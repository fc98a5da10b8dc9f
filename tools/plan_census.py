#!/usr/bin/env python
"""Plan-shape census over the whole registry (no execution).

For every registered query, build the DataFrame and count, from
explain("formatted"): parquet scans per input table, Exchange nodes,
join strategies, Python-boundary nodes, and cartesian products. Flags
queries that scan the same table more than once — the redundant-subtree
shape that costs full corpus passes at scale.

Usage: python tools/plan_census.py [OUT_TSV]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_census.tsv"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from exact_spark.registry import REGISTRY, _load_all
    from exact_spark.session import get_spark

    _load_all()
    spark = get_spark(
        app_name="exact-spark-plan-census",
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — census must survive one bad query
            rows.append((name, "ERROR", str(exc)[:120], "", "", "", ""))
            continue
        scans = Counter(
            re.sub(r"\.parquet$", "", os.path.basename(m))
            for m in re.findall(r"Location:.*?\[([^\]]*)\]", plan)
        )
        multi = {t: c for t, c in scans.items() if c > 1}
        joins = Counter(
            m for m in re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)", plan)
        )
        py = Counter(
            m for m in re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
                r"FlatMapGroupsInPandas)", plan)
        )
        rows.append((
            name,
            str(sum(scans.values())),
            ";".join(f"{t}={c}" for t, c in sorted(multi.items())) or "-",
            str(plan.count("Exchange")),
            ";".join(f"{k}={v}" for k, v in sorted(joins.items())) or "-",
            ";".join(f"{k}={v}" for k, v in sorted(py.items())) or "-",
            str(len(plan)),
        ))
        spark.catalog.clearCache()

    with open(out, "w") as f:
        f.write("query\tn_scans\tmulti_scans\tn_exchange\tjoins\tpython\tplan_bytes\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    print(f"wrote {out} ({len(rows)} queries)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
