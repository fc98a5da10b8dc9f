"""Structured-streaming replay + inline injection + foreachBatch scoring
(T1-T5)."""

from __future__ import annotations

import math

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from exact_spark.ml.models import DetectorModel
from exact_spark.operators.inject import AnomalySetting
from exact_spark.plans import batch as batch_mod
from exact_spark.plans.api import EngineAPI
from exact_spark.plans.batch import BatchJob, run_batch
from exact_spark.plans.stream import run_stream
from exact_spark.sources.catalog import JobCatalog
from exact_spark.streaming.replay import (
    replay_rate,
    stateful_session_counts,
    windowed_counts,
)


def _write_series(path, n: int, blank=lambda i: False) -> str:
    """An ``n``-row ``t,v,lab`` sine series, one row a minute; ``v`` is
    blank where ``blank(i)``."""
    lines = ["t,v,lab"]
    for i in range(n):
        v = "" if blank(i) else f"{10 + math.sin(i / 15.0):.6f}"
        lines.append(f"{1700000000 + i * 60},{v},0")
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    return _write_series(tmp_path_factory.mktemp("stream") / "series.csv", 600)


@pytest.fixture(scope="module")
def gappy_path(tmp_path_factory):
    """The 600-row series with 12 blank values, 2 of them (rows 407 and
    457) in ``_custom_job``'s injected rows."""
    return _write_series(tmp_path_factory.mktemp("gappy") / "series.csv", 600,
                         blank=lambda i: i % 50 == 7)


def _custom_job(name: str, csv_path: str) -> BatchJob:
    """The 600-row series with one 100% ``custom`` setting: rows 400-459
    are injected and labelled."""
    return BatchJob(
        job_name=name,
        filepath=csv_path,
        time_col="t",
        label_col="lab",
        anomaly_settings=[
            AnomalySetting("custom", 400 * 60, 60 * 60, magnitude=50.0,
                           percentage=100.0, columns=["v"])
        ],
        model="threshold",
    )


def test_run_stream_end_to_end(spark, csv_path, tmp_path):
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    work = tmp_path / "work"
    result = run_stream(spark, catalog, _custom_job("s1", csv_path), str(work), chunks=6)
    assert result["rows"] == 600
    assert result["table_name"] == "job_stream_s1"
    assert result["stream_status"]["isActive"] is False
    # all 60 injected rows detected by the pre-trained threshold model
    m = result["metrics_all"]
    assert m["tp"] == 60 and m["fn"] == 0
    assert m["precision"] >= 0.5
    # replay pacing contract: 60s inter-arrival, speedup 1000 -> ~16.7 rows/s
    assert abs(result["replay_rows_per_second"] - 1000.0 / 60.0) < 0.1

    # the stored flags are injected OR predicted; every labelled row here
    # is an injected one, so the flagged rows are the union tp + fp + fn
    flagged = catalog.read_data("job_stream_s1").filter(F.col("is_anomaly"))
    assert flagged.count() == m["tp"] + m["fp"] + m["fn"]
    # per-micro-batch appends were bin-packed before handing to readers
    assert result["compaction"]["files_after"] <= result["compaction"]["files_before"]
    # the staged source and the checkpoint are scratch
    assert not (work / "source").exists() and not (work / "checkpoint").exists()


class _Detector(DetectorModel):
    """Test detector: flags ``flag``; ``fail`` makes ``detect`` raise and
    ``drop`` makes it score only the even ids."""

    def __init__(self, flag: int = 0, fail: bool = False, drop: bool = False):
        self.flag, self.fail, self.drop = flag, fail, drop

    def run(self, train, feature_cols, label_col="label"):
        pass

    def detect(self, df, feature_cols):
        if self.fail:
            raise RuntimeError("detector down")
        if self.drop:
            df = df.filter(F.col("id") % 2 == 0)
        return df.select("id", F.lit(0.0).alias("score"), F.lit(self.flag).alias("predicted"))


def _patch_model(monkeypatch, **kw):
    # both job kinds take their model from plans.batch
    monkeypatch.setattr(batch_mod, "get_model", lambda name, **params: _Detector(**kw))


@pytest.mark.parametrize("flag", [0, 1], ids=["never_flags", "always_flags"])
def test_stream_and_batch_evaluate_the_detector_alike(spark, csv_path, tmp_path,
                                                      monkeypatch, flag):
    """Both job kinds score the detector, not the injected flags: at 100%
    injection, where their injections agree, a constant detector gives
    both the same metrics; one that never flags detects nothing."""
    _patch_model(monkeypatch, flag=flag)
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    job = _custom_job("parity", csv_path)
    batch = run_batch(spark, catalog, job, str(tmp_path / "out"))["metrics_all"]
    stream = run_stream(spark, catalog, job, str(tmp_path / "work"), chunks=3)["metrics_all"]
    assert stream == batch
    if flag:
        assert (batch["tp"], batch["fp"], batch["fn"]) == (60, 540, 0)
    else:
        assert batch["tp"] == 0 and batch["recall"] == 0
        assert batch["fn"] == 60


@pytest.mark.parametrize(
    "detector,timeout_s,error,match",
    [({"fail": True}, 120.0, StreamingQueryException, "detector down"),
     ({"drop": True}, 120.0, RuntimeError, "scored 300 of 600 rows"),
     ({}, 0.0, TimeoutError, "ran past")],
    ids=["detect_raises", "rows_lost", "timeout"],
)
def test_failed_stream_job_raises_and_stops(spark, csv_path, tmp_path, monkeypatch,
                                            detector, timeout_s, error, match):
    """A stream job whose query fails, loses rows or runs past its timeout
    raises; no query is left running and its scratch is removed."""
    _patch_model(monkeypatch, **detector)
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    work = tmp_path / "work"
    with pytest.raises(error, match=match):
        run_stream(spark, catalog, _custom_job("bad", csv_path), str(work),
                   chunks=2, timeout_s=timeout_s)
    assert spark.streams.active == []
    assert not (work / "source").exists() and not (work / "checkpoint").exists()


def test_duplicate_stream_job_name_fails_fast(spark, csv_path, tmp_path):
    """A second stream job under a finished job's name is rejected before
    any Spark work, instead of appending its rows to the first one's table."""
    api = EngineAPI(spark, str(tmp_path / "wh"), str(tmp_path / "out"))
    job = _custom_job("twice", csv_path)
    api.run_stream(job, chunks=2)
    with pytest.raises(ValueError, match="already has a table"):
        api.run_stream(job, chunks=2)
    assert api.catalog.read_data("job_stream_twice").count() == 600


def test_failed_stream_job_releases_cached_frames(spark, csv_path, tmp_path):
    # the model lookup fails after the job has cached its canonical frame.
    # Compare RDD ids, not a count: other tests' unreferenced checkpoints
    # may be released while this job runs.
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent())
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    job = BatchJob(job_name="leak", filepath=csv_path, time_col="t",
                   label_col="lab", model="no_such_model")
    with pytest.raises(KeyError):
        run_stream(spark, catalog, job, str(tmp_path / "work"), chunks=2)
    assert set(persistent()) <= before


@pytest.mark.parametrize("kind", ["batch", "stream"])
@pytest.mark.parametrize("n_rows", [0, 1], ids=["header_only", "one_row"])
def test_fewer_than_two_rows_raise_before_any_work(spark, tmp_path, kind, n_rows):
    """A job needs at least 2 rows: with fewer its train slice is empty.
    Both job kinds raise before injection, staging or training, and leave
    no table, no cached frame and no stream scratch."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent())
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    job = BatchJob(job_name="tiny", filepath=_write_series(tmp_path / "tiny.csv", n_rows),
                   time_col="t", label_col="lab")
    work = tmp_path / "work"
    with pytest.raises(ValueError, match=f"job 'tiny' has {n_rows} rows"):
        if kind == "batch":
            run_batch(spark, catalog, job, str(tmp_path / "out"))
        else:
            run_stream(spark, catalog, job, str(work), chunks=2)
    assert not catalog.table_exists(catalog.table_name("tiny", stream=kind == "stream"))
    assert set(persistent()) <= before
    assert not (work / "source").exists() and not (work / "checkpoint").exists()


@pytest.mark.parametrize("model", ["threshold", "isolation_forest"])
def test_both_job_kinds_score_imputed_rows_and_store_blanks(spark, gappy_path, tmp_path,
                                                           model):
    """Blank values are imputed with the train-fitted fill before training
    and scoring in both job kinds, so every row gets a flag and a confusion
    cell; neither table stores an imputed value."""
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    job = _custom_job("gappy", gappy_path)
    job.model = model
    batch = run_batch(spark, catalog, job, str(tmp_path / "out"))
    stream = run_stream(spark, catalog, job, str(tmp_path / "work"), chunks=6)
    for result in (batch, stream):
        m = result["metrics_all"]
        assert m["tp"] + m["tn"] + m["fp"] + m["fn"] == result["rows"] == 600
        stored = catalog.read_data(result["table_name"])
        assert stored.filter(F.col("is_anomaly").isNull()).count() == 0
        assert stored.filter(F.col("v").isNull()).count() == 12


def _jobs_in_group(spark, group: str) -> int:
    # the status tracker is fed by the listener bus: drain it before counting
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_spark_jobs_per_job_pinned(spark, gappy_path, tmp_path):
    """Spark jobs of one batch and one stream job (``threshold``, the
    gappy series), counted by job group: the jobs a call runs on the
    caller's thread are capped at their count when pinned (the same at
    local[2] and local[4]); the stream query's own group, keyed by its run
    id, holds exactly 2 jobs per micro-batch (the detector's broadcast and
    the table write) plus 1 for the table's creation."""
    sc = spark.sparkContext
    catalog = JobCatalog(spark, str(tmp_path / "wh"))
    job = _custom_job("pinned", gappy_path)
    try:
        sc.setJobGroup("pinned_batch", "pinned batch job")
        run_batch(spark, catalog, job, str(tmp_path / "out"))
        sc.setJobGroup("pinned_stream", "pinned stream job")
        result = run_stream(spark, catalog, job, str(tmp_path / "work"), chunks=6)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert _jobs_in_group(spark, "pinned_batch") <= 29
    assert _jobs_in_group(spark, "pinned_stream") <= 23
    progress = result["stream_status"]["lastProgress"]
    micro_batches = progress["batchId"] + 1
    assert micro_batches == 6
    assert _jobs_in_group(spark, progress["runId"]) == 2 * micro_batches + 1


def test_interarrival_and_windowed_counts(spark, csv_path, tmp_path):
    from contextlib import ExitStack

    from exact_spark.plans.batch import job_input

    src = str(tmp_path / "winsrc")
    with ExitStack() as release:
        canon, t0, t1, n_rows = job_input(spark, _custom_job("win", csv_path), release)
        canon.write.parquet(src)
    assert (t1 - t0, n_rows) == (599 * 60.0, 600)
    # 60 s mean inter-arrival
    assert abs(replay_rate(t0, t1, n_rows, speedup=60.0) - 1.0) < 1e-9
    assert replay_rate(t0, t0, 1, speedup=60.0) == 1000.0  # no gap to pace by

    # T5: watermarked windowed agg over a replay stream
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_counts(stream, window="60 minutes", watermark="120 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = sorted(
        spark.sql("SELECT * FROM win_counts").collect(), key=lambda r: r["window_start"]
    )
    assert sum(r["n_events"] for r in rows) == 600
    # data starts mid-hour, so edge windows are partial; interior ones are full
    assert len(rows) == 11
    assert all(r["n_events"] == 60 for r in rows[1:-1])


def test_stateful_session_counts(spark, tmp_path):
    """Custom stateful operator: per-key gap sessionization via
    applyInPandasWithState — state carries open sessions across
    micro-batches; closed sessions emit exactly once."""
    # two users: u1 has two sessions separated by a 2h gap, u2 one session
    rows = []
    for i in range(10):                      # u1 session 1: 10 events, 1min apart
        rows.append(("u1", 1700000000 + i * 60))
    for i in range(5):                       # u1 session 2: 2h later
        rows.append(("u1", 1700000000 + 7200 + 600 + i * 60))
    for i in range(7):                       # u2 single session
        rows.append(("u2", 1700000000 + i * 120))
    df = spark.createDataFrame(rows, ["user_id", "epoch"]).select(
        "user_id", F.timestamp_seconds("epoch").alias("timestamp")
    )
    # stage as TWO files so the state must survive across micro-batches
    src = str(tmp_path / "sessrc")
    df.repartitionByRange(2, "timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = stateful_session_counts(stream, gap_seconds=1800.0)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive, "bounded stateful query must terminate"
    got = {
        (r["key"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    # u1's first session and u2's only session are watermark-final
    # (end + gap <= final wm); u1's tail session is NOT provable yet and
    # must stay in state — emitting it would be wrong
    assert got == {("u1", 10), ("u2", 7)}


def test_split_sessions_properties():
    """Hypothesis: for any sorted buffer and positive gap, the runs
    partition the input in order, intra-run gaps are <= gap, and
    consecutive runs are separated by > gap."""
    from hypothesis import given, settings, strategies as st

    from exact_spark.streaming.replay import split_sessions

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.floats(min_value=0, max_value=1e6, allow_nan=False), min_size=1, max_size=60),
        st.floats(min_value=1e-3, max_value=1e5, allow_nan=False),
    )
    def check(times, gap):
        buf = sorted(times)
        runs = split_sessions(buf, gap)
        assert [t for run in runs for t in run] == buf  # ordered partition
        for run in runs:
            assert all(b - a <= gap for a, b in zip(run, run[1:]))
        for r1, r2 in zip(runs, runs[1:]):
            assert r2[0] - r1[-1] > gap

    check()


def test_deduplicated_stream_watermark_semantics(spark, tmp_path):
    """Streaming exact dedup: first arrival wins within the watermark
    horizon; state is evicted past it (a far-later duplicate re-emits —
    the bounded-state contract, proven here so it can't silently change)."""
    import time as _time

    from exact_spark.streaming.replay import deduplicated_stream

    src = tmp_path / "dedupsrc"
    src.mkdir()

    def stage(name, rows):
        df = spark.createDataFrame(rows, ["id", "epoch", "v"]).select(
            "id", F.timestamp_seconds("epoch").alias("timestamp"), "v"
        )
        df.coalesce(1).write.parquet(str(tmp_path / "stage" / name))
        import shutil as _sh

        part = next((tmp_path / "stage" / name).glob("*.parquet"))
        _sh.copy(part, src / f"{name}.parquet")
        _time.sleep(0.05)  # file-stream order is (modTime, path)

    t0 = 1700000000
    # batch 1: ids 1..20, one per minute (span 19 min)
    stage("f1", [(i, t0 + i * 60, float(i)) for i in range(1, 21)])
    # batch 2: dups of 5,6,7 (in-horizon -> dropped) + fresh 21..30 far
    # ahead, pushing the watermark past id 1's state expiry
    stage(
        "f2",
        [(i, t0 + i * 60 + 10, 99.0) for i in (5, 6, 7)]
        + [(i, t0 + 3000 + i * 60, float(i)) for i in range(21, 31)],
    )
    # batch 3: a fresh key — state eviction runs at END of a batch, so this
    # batch is what actually clears id 1's expired state
    stage("f3", [(40, t0 + 4860, 40.0)])
    # batch 4: duplicate of id 1 AFTER its state horizon -> re-emits
    stage("f4", [(1, t0 + 4900, 111.0)])

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = deduplicated_stream(stream, ["id"], watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    out = spark.sql("SELECT * FROM dedup_stream").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["v"])
    # in-horizon duplicates collapsed to first arrival
    assert by_id[5] == [5.0] and by_id[6] == [6.0] and by_id[7] == [7.0]
    # fresh keys all present exactly once
    assert all(by_id[i] == [float(i)] for i in range(21, 31))
    # past-horizon duplicate re-emitted (bounded state, documented)
    assert sorted(by_id[1]) == [1.0, 111.0]
    assert by_id[40] == [40.0]
    assert len(out) == 20 + 10 + 1 + 1


def test_streaming_zscore_detector(spark, tmp_path):
    """Online per-key Welford z-score detector: state carries the running
    baseline across micro-batches, a spike after the baseline stabilizes
    is flagged, the stable tail is not, and replaying with different
    batch boundaries yields identical flags."""
    from exact_spark.streaming.replay import streaming_zscore_detector

    rows = []
    for i in range(40):  # stable baseline 10.0 +/- 0.5
        rows.append(("u1", 1700000000 + i * 60, 10.0 + (0.5 if i % 2 else -0.5)))
    rows.append(("u1", 1700000000 + 40 * 60, 50.0))  # spike
    for i in range(41, 50):
        rows.append(("u1", 1700000000 + i * 60, 10.0 + (0.5 if i % 2 else -0.5)))
    df = spark.createDataFrame(rows, ["user_id", "epoch", "value"]).select(
        "user_id", F.timestamp_seconds("epoch").alias("timestamp"), "value"
    )

    def run(n_chunks, name):
        # stage chunks one by one: parallel range-partition writes give the
        # part files nondeterministic mtimes, and the file stream replays
        # in (modTime, path) order — time order must be staged explicitly
        import time as _time

        src = tmp_path / f"zsrc{n_chunks}"
        src.mkdir()
        per = (len(rows) + n_chunks - 1) // n_chunks
        for k in range(n_chunks):
            lo, hi = k * per, min((k + 1) * per, len(rows))
            cdf = spark.createDataFrame(
                rows[lo:hi], ["user_id", "epoch", "value"]
            ).select(
                "user_id", F.timestamp_seconds("epoch").alias("timestamp"), "value"
            )
            cdf.coalesce(1).write.parquet(str(tmp_path / f"zstage{n_chunks}_{k}"))
            import shutil as _sh

            part = next((tmp_path / f"zstage{n_chunks}_{k}").glob("*.parquet"))
            _sh.copy(part, src / f"chunk{k}.parquet")
            _time.sleep(0.05)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_zscore_detector(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt{n_chunks}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["event_epoch"], r["value"], r["is_anomaly"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    got = run(4, "zs4")
    assert len(got) == 50
    flagged = [ep for ep, v, a in got if a]
    assert flagged == [1700000000 + 40 * 60.0]  # exactly the spike
    # batch-boundary invariance (events fold in event-time order)
    assert got == run(2, "zs2")


def test_state_partitions_restores_on_error(spark):
    """The demo state-partition sizing must restore the session value even
    when the stream start throws (a leaked '4' would silently shrink every
    later shuffle in the session)."""
    import pytest

    from exact_spark.streaming.replay import _state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with _state_partitions(spark, 4):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_state_partitions_restores_under_concurrency(spark):
    """Two threads in the sizing context at once: if B saved A's override
    and restored it after A had restored the real value, the session would
    stay at 4 partitions for good. B waits to leave until A has left, so
    only a lock around save/set/restore keeps the value."""
    import threading

    from exact_spark.streaming.replay import _state_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "4"
    a_in, release_a, a_out, b_in = (threading.Event() for _ in range(4))

    def a():
        with _state_partitions(spark, 4):
            a_in.set()
            release_a.wait(10)
        a_out.set()

    def b():
        a_in.wait(10)
        with _state_partitions(spark, 4):
            b_in.set()
            a_out.wait(10)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    b_in.wait(0.5)
    release_a.set()
    for t in threads:
        t.join(30)
    after = spark.conf.get(key)
    spark.conf.set(key, before)
    assert not any(t.is_alive() for t in threads)
    assert after == before


@pytest.mark.parametrize("chunks", [1, 2, 3])
def test_session_window_emits_at_exact_watermark_equality(spark, tmp_path, chunks):
    """The stream_session_window_native oracle's emission rule is
    `window end <= final watermark` — INCLUSIVE. Pin Spark's behavior at
    exact equality with a constructed boundary: user 1's session window
    end lands precisely ON the final watermark, and must be emitted.
    Parameterized over the micro-batch split (1/2/3 chunks, one file per
    trigger) to prove the invariant isn't split-shaped: the session may
    assemble within one batch or across batches, the final watermark is
    the same."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    t0 = 1700000000
    # user 1 session: [t0, t0+60]; window end = t0 + 60 + 600 (gap)
    # user 2's lone event puts max event time at t0+960, so the final
    # watermark (delay 300s) = t0+660 == user 1's window end exactly
    rows = [(1, t0), (1, t0 + 60), (2, t0 + 60 + 600 + 300)]
    per = (len(rows) + chunks - 1) // chunks
    src = tmp_path / "src"
    src.mkdir()
    for k in range(chunks):
        part = rows[k * per:(k + 1) * per]
        if not part:
            continue
        df = spark.createDataFrame(part, "user_id long, ep long").select(
            "user_id", F.timestamp_seconds("ep").alias("timestamp")
        )
        tmp = tmp_path / f"stage{k}"
        df.coalesce(1).write.parquet(str(tmp))
        shutil.copy(next(tmp.glob("*.parquet")), src / f"c{k}.parquet")
        _t.sleep(0.05)  # file-stream order is (modTime, path)
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sess = (
        stream.withWatermark("timestamp", "300 seconds")
        .groupBy("user_id", F.session_window("timestamp", "600 seconds").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName(f"wm_edge_{chunks}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql(
        f"SELECT user_id, CAST(sw.end AS LONG) AS e, n FROM wm_edge_{chunks}"
    ).collect()
    assert [(r["user_id"], r["e"], r["n"]) for r in out] == [(1, t0 + 660, 2)]


@pytest.mark.parametrize("chunks", [2, 3])
def test_stream_stream_join_matches_across_chunks_near_horizon(
    spark, tmp_path, chunks
):
    """The stream_stream_join oracle equals the batch interval join only
    if state eviction never drops a chunk-1 view a later-chunk purchase
    can still reach. Pin the worst case: a purchase in the LAST
    micro-batch matching a view from the FIRST, 5h59m earlier (just
    inside the 6h horizon, far past the 1h watermark delay).
    Parameterized over the micro-batch split (2/3 chunks) to prove the
    invariant isn't split-shaped — at 3 chunks an extra watermark
    advance lands between the view and the purchase."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    t0, H = 1700000000, 3600
    if chunks == 2:
        batches = [
            [(7, 100, t0, "view", 1.0), (9, 101, t0 + 2 * H, "view", 1.0)],
            [(7, 200, t0 + 6 * H - 60, "purchase", 9.9)],
        ]
    else:
        batches = [
            [(7, 100, t0, "view", 1.0)],
            [(9, 101, t0 + 2 * H, "view", 1.0)],
            [(7, 200, t0 + 6 * H - 60, "purchase", 9.9)],
        ]
    src = tmp_path / "src"
    src.mkdir()

    def stage(name, rows):
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ep long, event_type string, value double"
        ).select(
            "user_id", "event_id", F.timestamp_seconds("ep").alias("timestamp"),
            "event_type", "value",
        )
        tmp = tmp_path / ("st_" + name)
        df.coalesce(1).write.parquet(str(tmp))
        shutil.copy(next(tmp.glob("*.parquet")), src / f"{name}.parquet")
        _t.sleep(0.05)  # file-stream order is (modTime, path)

    for bi, batch in enumerate(batches):
        stage(f"f{bi}", batch)
    schema = spark.read.parquet(str(src)).schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    views = (
        reader().filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purch = (
        reader().filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purch.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 6 HOURS")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(f"sje_t_{chunks}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql(f"SELECT purchase_id, view_id FROM sje_t_{chunks}").collect()
    assert any(r["purchase_id"] == 200 and r["view_id"] == 100 for r in out), out


def test_stream_ckpt_dir_env(monkeypatch, tmp_path):
    """SPARK_GRAFT_CKPT_DIR points the bounded queries' per-run scratch
    (checkpoint dirs) at a caller-chosen filesystem; unset, tempfile's
    default is used unchanged. The dir is removed on exit."""
    import tempfile

    from exact_spark.streaming.replay import _work_dir

    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path / "ck"))
    with _work_dir("exact_spark_test_") as d:
        assert d.parent == tmp_path / "ck"
        assert d.is_dir()
    assert not d.exists()

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR")
    with _work_dir("exact_spark_test_") as d2:
        assert str(d2.parent) == tempfile.gettempdir()
    assert not d2.exists()


def test_sweep_stale_work_dirs_is_age_gated(monkeypatch, tmp_path):
    """A crashed demo's scratch dir under SPARK_GRAFT_CKPT_DIR is reclaimed
    once it ages past the gate; recent dirs (a concurrent run's live
    checkpoint) and foreign entries stay."""
    import os
    import time

    from exact_spark.streaming import replay

    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))
    stale, live, foreign = (
        tmp_path / "exact_spark_stream_a",
        tmp_path / "exact_spark_stream_b",
        tmp_path / "other",
    )
    for d in (stale, live, foreign):
        (d / "offsets").mkdir(parents=True)
    old = time.time() - replay._WORK_DIR_STALE_MIN_AGE_S - 60
    for d in (stale, foreign):
        os.utime(d, (old, old))

    replay.sweep_stale_work_dirs()
    assert not stale.exists()
    assert live.exists() and foreign.exists()


def test_state_partitions_held_only_across_start(spark, sf_dir):
    """A stateful demo sizes its state store only while its query starts:
    the query keeps _DEMO_STATE_PARTITIONS state partitions, yet once it is
    making progress a query planned on another thread reads the session's
    own shuffle-partition count, not the demo's."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from exact_spark.registry import REGISTRY
    from exact_spark.streaming.replay import _DEMO_STATE_PARTITIONS

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != str(_DEMO_STATE_PARTITIONS)
    seen, store_partitions = [], set()
    with ThreadPoolExecutor(1) as pool:
        demo = pool.submit(REGISTRY["stream_windowed_counts"].fn, spark, sf_dir)
        while not demo.done():
            progress = [p for q in spark.streams.active if (p := q.lastProgress)]
            if progress:
                seen.append(spark.conf.get(key))
                store_partitions |= {
                    op["numShufflePartitions"] for p in progress for op in p["stateOperators"]
                }
            time.sleep(0.01)
        assert demo.result(timeout=300).collect()
    assert seen and set(seen) == {before}
    assert store_partitions == {_DEMO_STATE_PARTITIONS}


def test_demos_leave_nothing_behind_and_run_concurrently(spark, sf_dir):
    """Two threads run the same stateful demo at once: each gets exactly
    the rows of a serial run (per-run sink names and checkpoints), and
    neither leaves a view or a running query in the session. The demos
    run in a fresh session of the same application, tuned like the
    shared one, so views that other tests left cannot hide a leak."""
    from concurrent.futures import ThreadPoolExecutor

    from exact_spark.registry import REGISTRY
    from exact_spark.session import DEFAULT_CONF

    fresh = spark.newSession()
    for k, v in {**DEFAULT_CONF, "spark.sql.shuffle.partitions":
                 spark.conf.get("spark.sql.shuffle.partitions")}.items():
        fresh.conf.set(k, v)

    def state():
        return fresh.catalog.listTables(), fresh.streams.active

    def run():
        return REGISTRY["stream_windowed_counts"].fn(fresh, sf_dir).collect()

    before = state()
    serial = run()
    assert serial
    with ThreadPoolExecutor(2) as pool:
        both = [f.result(timeout=300) for f in [pool.submit(run) for _ in range(2)]]
    assert both == [serial, serial]
    assert state() == before


def _slow(batch_df, batch_id):
    import time

    time.sleep(2)


def _boom(batch_df, batch_id):
    raise RuntimeError("boom")


@pytest.mark.parametrize(
    "sink,timeout_s,error,match",
    [(_slow, 0.5, TimeoutError, "ran past"),
     (_boom, 120.0, StreamingQueryException, "boom")],
    ids=["timeout", "sink_raises"],
)
def test_bounded_runner_failure_stops_and_cleans_up(spark, tmp_path, monkeypatch,
                                                    sink, timeout_s, error, match):
    """A bounded query that runs past its timeout or whose sink raises makes
    the runner raise; no query is left running and no checkpoint is left."""
    from exact_spark.streaming.replay import read_replay_stream, run_bounded, stage_stream_source

    src = str(tmp_path / "src")
    stage_stream_source(
        spark.range(20).select(F.timestamp_seconds(F.col("id")).alias("timestamp")), src, 2
    )
    ckpt = tmp_path / "ck"
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(ckpt))
    with pytest.raises(error, match=match):
        run_bounded(read_replay_stream(spark, src), sink, timeout_s=timeout_s)
    assert spark.streams.active == []
    assert list(ckpt.iterdir()) == []
