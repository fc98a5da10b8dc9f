#!/usr/bin/env python
"""Per-query profiler for optimization work.

For each named query: time the Python-side DataFrame construction
(fn(spark, sf_dir)), the count() action the bench times, and a noop-sink
write (guide §1.4 — computes every column, no sink cost), N times each.

Usage: python tools/profile_query.py [-n N] <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from exact_spark.registry import REGISTRY, _load_all
    from exact_spark.session import get_spark

    _load_all()
    spark = get_spark(
        app_name="exact-spark-profile",
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def _ident(it):
        yield from it

    spark.range(8).repartition(8).mapInPandas(_ident, "id long").count()

    for name in names:
        fn = REGISTRY[name].fn
        for i in range(n):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            cnt = df.count()
            t2 = time.perf_counter()
            spark.catalog.clearCache()
            df2 = fn(spark, sf_dir)
            t3 = time.perf_counter()
            df2.write.format("noop").mode("overwrite").save()
            t4 = time.perf_counter()
            spark.catalog.clearCache()
            print(
                f"{name} run{i}: build={t1 - t0:.3f}s count={t2 - t1:.3f}s "
                f"noop={t4 - t3:.3f}s rows={cnt}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
