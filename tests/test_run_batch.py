"""End-to-end §7.2 slice: ingest CSV -> inject spike -> train -> detect ->
flag MERGE -> metrics -> logfile JSON -> get-data read."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from exact_spark.operators.inject import AnomalySetting
from exact_spark.plans.api import EngineAPI
from exact_spark.plans.batch import BatchJob


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("e2e") / "series.csv"
    lines = ["t,v,lab"]
    for i in range(1000):
        v = 10.0 + math.sin(i / 20.0)
        lines.append(f"{1700000000 + i * 60},{v},0")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("engine")
    return EngineAPI(spark, str(root / "warehouse"), str(root / "output"),
                     datasets_dir=str(root / "datasets"))


def test_run_batch_end_to_end(spark, api, csv_path):
    # inject a 100x spike into minutes 500-600 (offsets in seconds)
    job = BatchJob(
        job_name="e2e_spike",
        filepath=csv_path,
        time_col="t",
        label_col="lab",
        anomaly_settings=[
            AnomalySetting(
                anomaly_type="custom", timestamp=880 * 60, duration=100 * 60,
                magnitude=100.0, percentage=100.0, columns=["v"],
            )
        ],
        model="threshold",
    )
    summary = api.run_batch(job)

    assert summary["rows"] == 1000
    assert summary["train_rows"] == 850
    # injected rows carry label=1 and the threshold detector catches them
    assert summary["metrics_all"]["tp"] == 100
    assert summary["metrics_all"]["recall"] >= 0.99
    assert summary["metrics_all"]["precision"] >= 0.6
    for k in (
        "execution_time_simulation_seconds",
        "execution_time_training_seconds",
        "execution_time_detection_seconds",
        "execution_time_total_seconds",
    ):
        assert summary[k] >= 0

    # S15 logfile round-trips as one JSON line
    with open(summary["logfile"]) as f:
        loaded = json.loads(f.read())
    assert loaded["job_name"] == "e2e_spike"

    # flags persisted (S8)
    tbl = api.catalog.table_name("e2e_spike")
    flagged = api.catalog.read_data(tbl).filter(F.col("is_anomaly"))
    assert flagged.count() == summary["anomalies_flagged"] > 0

    # get-data (split-orient) over a time range
    got = api.get_data("e2e_spike")
    assert got["columns"][0] == "id"
    assert len(got["data"]) == 1000

    # catalog surface
    assert api.get_all_jobs() == ["job_batch_e2e_spike"]
    assert "v" in api.get_columns("e2e_spike")
    assert "is_anomaly" not in api.get_columns("e2e_spike")

    # cancel-job drops table + output dir
    assert api.cancel_job("e2e_spike")
    assert api.get_all_jobs() == []


def test_job_name_validation(api, csv_path):
    with pytest.raises(ValueError):
        api.run_batch(BatchJob(job_name="Bad Name!", filepath=csv_path))


def test_failed_job_releases_cached_frames(spark, api, csv_path):
    # the model lookup fails after the job has cached its frames
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(KeyError):
        api.run_batch(BatchJob(job_name="leak", filepath=csv_path, time_col="t",
                               label_col="lab", model="no_such_model"))
    assert persistent().size() == before
    api.cancel_job("leak")
