"""End-to-end §7.2 slice: ingest CSV -> inject spike -> train -> detect ->
metrics -> one table write with the final flags -> logfile JSON -> get-data
read; and the decisions that one write states: a batch table appears only
when complete, and a failed, cancelled or duplicate job publishes none."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from exact_spark.ml import visualize
from exact_spark.operators.inject import AnomalySetting
from exact_spark.plans import batch as batch_mod
from exact_spark.plans.api import EngineAPI
from exact_spark.plans.batch import BatchJob, run_batch
from exact_spark.sources.catalog import JobCatalog


def _write_series(path, n: int, missing: int | None = None) -> str:
    """A one-feature sine series, one row a minute; row ``missing`` has no
    ``v`` value."""
    lines = ["t,v,lab"]
    for i in range(n):
        v = "" if i == missing else 10.0 + math.sin(i / 20.0)
        lines.append(f"{1700000000 + i * 60},{v},0")
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    return _write_series(tmp_path_factory.mktemp("e2e") / "series.csv", 1000)


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


@pytest.mark.parametrize("model", ["no_such_model", "threshold"])
def test_failed_job_releases_cached_frames(spark, api, csv_path, model):
    # the lookup of no_such_model fails after the job has cached its
    # frames; a successful job releases them all too
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    job = BatchJob(job_name="leak", filepath=csv_path, time_col="t", label_col="lab",
                   model=model)
    if model == "threshold":
        api.run_batch(job)
    else:
        with pytest.raises(KeyError):
            api.run_batch(job)
    assert persistent().size() == before
    api.cancel_job("leak")


def _job(name: str, path: str, **kw) -> BatchJob:
    return BatchJob(job_name=name, filepath=path, time_col="t", label_col="lab", **kw)


def _wrap_model(monkeypatch, run=None, detect=None):
    """Route ``run_batch``'s models through hooks: ``run(train, feats)``
    before training, ``detect(det)`` on the detector's output."""
    raw_get_model = batch_mod.get_model

    def get_model(name, **params):
        model = raw_get_model(name, **params)
        raw_run, raw_detect = model.run, model.detect

        def hooked_run(train, feats):
            if run:
                run(train, feats)
            return raw_run(train, feats)

        def hooked_detect(df, feats):
            det = raw_detect(df, feats)
            if detect:
                detect(det)
            return det

        model.run, model.detect = hooked_run, hooked_detect
        return model

    monkeypatch.setattr(batch_mod, "get_model", get_model)


def test_table_appears_only_when_complete(api, csv_path, monkeypatch):
    def mid_job(train, feats):
        assert "job_batch_midjob" not in api.get_all_jobs()
        with pytest.raises(AnalysisException):
            api.get_data("midjob")

    _wrap_model(monkeypatch, run=mid_job)
    summary = api.run_batch(_job("midjob", csv_path))
    assert "job_batch_midjob" in api.get_all_jobs()
    assert len(api.get_data("midjob")["data"]) == summary["rows"]
    api.cancel_job("midjob")


def test_failed_job_leaves_no_table(api, csv_path):
    with pytest.raises(KeyError):
        api.run_batch(_job("broken", csv_path, model="no_such_model"))
    assert "job_batch_broken" not in api.get_all_jobs()
    assert not (api.catalog.warehouse / "job_batch_broken").exists()
    api.cancel_job("broken")


@pytest.mark.parametrize("stage", ["inject", "train"])
def test_cancelled_job_raises_and_leaves_no_table(api, csv_path, monkeypatch, stage):
    name = f"cancel_{stage}"
    if stage == "inject":
        raw_inject = batch_mod.inject_anomalies

        def inject(*args, **kwargs):
            api.cancel_job(name)
            return raw_inject(*args, **kwargs)

        monkeypatch.setattr(batch_mod, "inject_anomalies", inject)
    else:
        _wrap_model(monkeypatch, run=lambda train, feats: api.cancel_job(name))
    with pytest.raises(Exception):
        api.run_batch(_job(name, csv_path))
    assert f"job_batch_{name}" not in api.get_all_jobs()
    assert not (api.catalog.warehouse / f"job_batch_{name}").exists()


def test_stored_rows_are_injected_rows_with_final_flags(api, tmp_path, monkeypatch):
    path = _write_series(tmp_path / "gappy.csv", 400, missing=37)
    # lowered values stay under the detector's P95 threshold: the injected
    # and the predicted rows differ, so both sides of the OR show
    lowered = AnomalySetting(anomaly_type="lowered", timestamp=200 * 60, duration=40 * 60,
                             percentage=100.0, columns=["v"])
    predicted = {}
    with monkeypatch.context() as m:
        def forbidden(*args, **kwargs):
            raise AssertionError("run_batch reads back or rewrites its table")

        m.setattr(JobCatalog, "read_data", forbidden)
        m.setattr(JobCatalog, "update_anomalies", forbidden)
        _wrap_model(m, detect=lambda det: predicted.update(
            (r["id"], r["predicted"]) for r in det.collect()))
        summary = api.run_batch(_job("stored", path, anomaly_settings=[lowered]))

    stored = api.catalog.read_data(api.catalog.table_name("stored")).collect()
    assert len(stored) == summary["rows"] == 400
    assert [r["id"] for r in stored if r["v"] is None] == [38]
    for r in stored:
        assert r["is_anomaly"] == (r["injected_anomaly"] or predicted[r["id"]] == 1), r
    assert any(r["injected_anomaly"] and not predicted[r["id"]] for r in stored)
    assert any(predicted[r["id"]] and not r["injected_anomaly"] for r in stored)
    api.cancel_job("stored")


def test_duplicate_job_name_fails_fast(spark, api, tmp_path, monkeypatch):
    first = _write_series(tmp_path / "first.csv", 200)
    second = _write_series(tmp_path / "second.csv", 300)
    assert api.run_batch(_job("dup", first))["rows"] == 200
    table = api.catalog.table_name("dup")
    before = sorted(api.catalog.read_data(table).collect())

    def never(*args, **kwargs):
        raise AssertionError("a duplicate job reached ingest")

    with monkeypatch.context() as m:
        m.setattr(batch_mod, "read_file", never)
        with pytest.raises(ValueError):
            api.run_batch(_job("dup", second))
    # a same-name job that passed that check loses at its table write
    with pytest.raises(ValueError):
        run_batch(spark, api.catalog, _job("dup", second), str(api.output_dir))
    assert sorted(api.catalog.read_data(table).collect()) == before
    api.cancel_job("dup")


def _plan_nodes(plan) -> list[str]:
    """Node names of a logical plan; a cached relation is a leaf, its
    inner plan not walked."""
    kids = plan.children()
    return [plan.nodeName()] + [n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))]


@pytest.mark.parametrize("label_col", ["lab", None])
def test_evaluation_and_table_write_read_one_cached_frame(api, csv_path, monkeypatch, label_col):
    # the frames evaluation and the table write read are projections of one
    # cached frame: no join runs above it, in either
    nodes, dtypes = {}, {}
    raw_evaluate, raw_create = batch_mod.evaluate_classification, JobCatalog.create_table

    def evaluate(df, *slices, **kw):
        nodes["evaluate"] = _plan_nodes(df._jdf.queryExecution().withCachedData())
        dtypes.update(df.dtypes)
        return raw_evaluate(df, *slices, **kw)

    def create_table(self, table, df):
        nodes["create_table"] = _plan_nodes(df._jdf.queryExecution().withCachedData())
        return raw_create(self, table, df)

    monkeypatch.setattr(batch_mod, "evaluate_classification", evaluate)
    monkeypatch.setattr(JobCatalog, "create_table", create_table)
    spike = AnomalySetting(anomaly_type="spike", timestamp=100 * 60, duration=50 * 60,
                           magnitude=5.0, percentage=50.0, columns=["v"])
    name = f"onejoin_{label_col or 'unlabelled'}"
    api.run_batch(BatchJob(job_name=name, filepath=csv_path, time_col="t",
                           label_col=label_col, anomaly_settings=[spike]))
    for reader, names in nodes.items():
        assert "InMemoryRelation" in names, (reader, names)
        assert "Join" not in names, (reader, names)
    assert set(nodes) == {"evaluate", "create_table"}
    # canonicalize and injection type the label int: evaluation casts nothing
    assert dtypes["label"] == "int"
    api.cancel_job(name)


@pytest.mark.parametrize(
    "n, missing, params, capped",
    [(400, 37, {}, False), (1000, None, {"percentile": 0.1}, True)],
    ids=["gappy", "over_marker_cap"],
)
def test_detection_timeline(api, tmp_path, monkeypatch, n, missing, params, capped):
    path = _write_series(tmp_path / "timeline.csv", n, missing=missing)
    drawn = {}
    raw_svg = visualize.svg_timeseries

    def svg_timeseries(title, points, anomalies=None):
        drawn.update(points=points, marks=anomalies)
        return raw_svg(title, points, anomalies)

    monkeypatch.setattr(visualize, "svg_timeseries", svg_timeseries)
    summary = api.run_batch(_job("timeline", path, model_params=params))
    with open(summary["timeline_svg"]) as f:
        svg = f.read()

    flagged = summary["anomalies_flagged"]
    assert (flagged > 500) == capped
    assert svg.count("<circle") == len(drawn["marks"]) == min(flagged, 500)
    first, last = 1700000000, 1700000000 + (n - 1) * 60
    xs = [t for t, _ in drawn["points"]]
    assert min(xs) == first and max(xs) == last
    assert all(first <= t <= last for t, _ in drawn["marks"])
    assert "nan" not in svg
    api.cancel_job("timeline")
