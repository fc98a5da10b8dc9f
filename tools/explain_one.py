#!/usr/bin/env python
"""Dump .explain("formatted") for named registry queries to plans/<tag>/.

Usage: python tools/explain_one.py <tag> <suffix> <query> [<query> ...]
Writes plans/<tag>/<query>_<suffix>.txt for each query. The optimization
rounds commit these so plan claims are checkable without running Spark.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from exact_spark.registry import REGISTRY, _load_all
    from exact_spark.session import get_spark

    _load_all()
    spark = get_spark(
        app_name="exact-spark-explain",
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = Path(__file__).resolve().parents[1] / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {out_dir / f'{name}_{suffix}.txt'}", file=sys.stderr)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
