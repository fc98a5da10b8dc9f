"""Stdlib parser for a Spark JSON event log.

Reads the uncompressed event log a traced benchmark session writes
(``spark.eventLog.enabled``; Spark 4 writes a rolling ``eventlog_v2_*``
directory of ``events_<n>_*`` files, older versions one file) and sums
job, stage and task metrics per job description. The benchmark's tracer
sets the description to ``span:<id>`` while a span is open, so every
Spark job lands on the innermost span that submitted it.

Python-boundary bytes come from the SQL metrics of the Arrow/pandas plan
nodes (``MapInPandas``, ``ArrowEvalPython``, ...): their accumulator ids
are read from every ``sparkPlanInfo`` and their per-task updates summed.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

#: per-description totals emitted by :func:`parse`
FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "idle_slot_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "python_bytes_to_worker",
    "python_bytes_from_worker",
)

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def event_files(log_dir: Path) -> list[Path]:
    """Every event file under ``log_dir`` in write order."""
    rolled = list(log_dir.rglob("events_*"))
    if not rolled:  # a single-file (non-rolling) event log
        return sorted(p for p in log_dir.iterdir() if p.is_file())
    return sorted(rolled, key=lambda p: (str(p.parent), int(p.name.split("_")[1])))


def _plan_python_accums(node: dict, sent: set, returned: set) -> None:
    for m in node.get("metrics", ()):
        if m.get("name") == _PY_SENT:
            sent.add(m["accumulatorId"])
        elif m.get("name") == _PY_RETURNED:
            returned.add(m["accumulatorId"])
    for child in node.get("children", ()):
        _plan_python_accums(child, sent, returned)


def parse(log_dir: Path, cores: int) -> dict[str | None, dict[str, float]]:
    """Sum the :data:`FIELDS` per job description (``None`` for jobs
    submitted without one).

    ``idle_slot_s`` is each job's wall time times ``cores`` minus the task
    run time of the stages it ran: slot time the job held but did not use.
    """
    py_sent: set[int] = set()
    py_returned: set[int] = set()
    job_desc: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_desc: dict[int, str | None] = {}
    job_task_run: dict[int, float] = defaultdict(float)
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))

    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                kind = e.get("Event", "")
                if "sparkPlanInfo" in e:
                    _plan_python_accums(e["sparkPlanInfo"], py_sent, py_returned)
                elif kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    job_desc[jid] = desc
                    job_start[jid] = e["Submission Time"] / 1000.0
                    for sid in e.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                    out[desc]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_start:
                        wall = e["Completion Time"] / 1000.0 - job_start[jid]
                        out[job_desc[jid]]["idle_slot_s"] += wall * cores
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stage_desc[sid] = (e.get("Properties") or {}).get("spark.job.description")
                    out[stage_desc[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    agg = out[stage_desc.get(sid)]
                    m = e.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    agg["tasks"] += 1
                    agg["task_run_s"] += run_s
                    agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    agg["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    agg["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                        if acc.get("ID") in py_sent:
                            agg["python_bytes_to_worker"] += float(acc.get("Update", 0))
                        elif acc.get("ID") in py_returned:
                            agg["python_bytes_from_worker"] += float(acc.get("Update", 0))
                    if sid in stage_job:
                        job_task_run[stage_job[sid]] += run_s

    for jid, run_s in job_task_run.items():
        out[job_desc.get(jid)]["idle_slot_s"] -= run_s
    return dict(out)
