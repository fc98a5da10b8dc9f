"""Smoke test of the benchmark: every workload once untraced and once
traced, each printing every metric it owes with its unit, plus unit tests
of the event-log parser, the span tracer and the timed-window artifact
check.

    python3 -m pytest perfbench/test_smoke.py

Run it from the repository root; the workload runs take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import spec  # noqa: E402
from spans import Tracer  # noqa: E402


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(HERE / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", spec.WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    want = spec.END_TO_END if trace == "0" else spec.PER_LAYER
    assert {n: m["unit"] for n, m in out["metrics"].items()} == want
    assert all(isinstance(m["value"], float) for m in out["metrics"].values())
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert not (ROOT / ".perfbench_runs").exists()


def test_artifact_built_in_the_timed_window_fails_the_run():
    job = {"kind": "job", "rid": "job", "latency_s": 2.0, "ok": True, "error": None}
    res = {"ops": [job], "setup_s": 1.0, "window_s": 2.0, "timed_start": 100.0,
           "builds": [{"artifact": "canonical", "at": 50.0}]}
    assert run.report(res, trace=False)["correct"]
    res["builds"].append({"artifact": "canonical", "at": 101.0})
    out = run.report(res, trace=False)
    assert not out["correct"] and out["failed"] == 1 and out["attempted"] == 2


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _bench("--workload", "batch_jobs", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_eventlog_attributes_tasks_to_descriptions(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 9},
        {"name": "data returned from Python workers", "accumulatorId": 10},
    ], "children": []}
    events = [
        {"Event": "SQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": "span:3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "span:3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 9, "Update": "100"}, {"ID": 10, "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                          "JVM GC Time": 10, "Disk Bytes Spilled": 7,
                          "Input Metrics": {"Bytes Read": 64},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = eventlog.parse(tmp_path, cores=4)["span:3"]
    assert got["jobs"] == got["stages"] == got["tasks"] == 1
    assert got["task_run_s"] == 0.5 and got["task_cpu_s"] == pytest.approx(0.2)
    assert got["idle_slot_s"] == pytest.approx(1.0 * 4 - 0.5)
    assert (got["shuffle_read_bytes"], got["shuffle_write_bytes"]) == (3, 5)
    assert (got["spill_bytes"], got["input_bytes"]) == (7, 64)
    assert (got["python_bytes_to_worker"], got["python_bytes_from_worker"]) == (100, 40)


def test_span_self_time_excludes_children():
    tracer = Tracer()
    with tracer.span("op", rid="r1"):
        with tracer.span("child"):
            time.sleep(0.02)
    by = {sp["name"]: sp for sp in tracer.spans}
    assert by["child"]["rid"] == "r1" and by["child"]["parent"] == by["op"]["id"]
    self_s = tracer.self_times()
    assert self_s[by["op"]["id"]] < 0.01 <= self_s[by["child"]["id"]]


def test_wrap_restores_the_original():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tracer = Tracer()
    raw = Owner.__dict__["f"]
    tracer.wrap(Owner, "f", "owner.f")
    assert Owner.f(1) == 2 and [sp["name"] for sp in tracer.spans] == ["owner.f"]
    tracer.unwrap_all()
    assert Owner.__dict__["f"] is raw
