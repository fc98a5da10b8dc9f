"""Workloads and metrics of the benchmark, read from ``BENCHMARK.json`` at
the repository root, plus the constants the workloads share."""

from __future__ import annotations

import json
from pathlib import Path

_BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
#: name -> unit, in report order; an "op" is one job or one request
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
#: name -> unit; ``/op`` units are averages over the timed ops of a traced run
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

CORES = 4  # local[CORES] in every workload

WIRE_CLASSES = ("get_window", "get_full", "meta", "run_query", "run_sql")

#: per-layer metric -> field of eventlog.parse's per-description totals
SPARK_FIELDS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.task_run_s": "task_run_s",
    "spark.task_cpu_s": "task_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.idle_slot_s": "idle_slot_s",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.input_bytes": "input_bytes",
    "spark.output_bytes": "output_bytes",
    "python.bytes_to_worker": "python_bytes_to_worker",
    "python.bytes_from_worker": "python_bytes_from_worker",
}
