"""Streaming operators (SURVEY.md §2.9, T1-T5) on Structured Streaming.

The reference's stream path is vestigially broken (SURVEY §3.3); this is
the intended semantics rebuilt Spark-first:

- T1 paced replay: the reference sleeps ``mean_interarrival / speedup``
  between single-row inserts (simulator.py:185-217). Here the file is
  staged as time-ordered parquet chunks and read one chunk per trigger;
  the pacing contract (rows/sec = speedup / mean_interarrival) is
  reported by ``replay_rate`` from the series' span and row count.
- T2 inline injection: ``operators.inject.streaming_injection`` applies
  the batch injectors' own per-setting transform (seeded draws, A4-A8
  value expressions, A9 flags) inside the streaming select. The one
  selection difference: the exact-k percentage subsample needs a global
  rank, which a stream cannot take, so a row is selected by a
  deterministic per-row md5 bucket test (same expectation, per-row
  independent; equal to the batch selection at 100%). Step/lowered stats
  come from the setting's overrides only.
- T3 detection: the reference re-reads and re-scores the WHOLE table every
  second (execute_calls.py:941-970). Here ``plans.stream.run_stream``'s
  ``foreachBatch`` sink scores only the new micro-batch, imputed, with the
  batch job's detector step, then appends it and counts its confusion
  cells on that write: the job never reads its table back.
- T4 status via StreamingQuery.lastProgress; a failed or timed-out query
  raises. ``run_bounded`` is the one start, wait, stop and cleanup of a
  bounded query, shared by ``run_stream`` and every streaming demo.
- T5 (extension beyond the reference): watermarked tumbling-window
  aggregation for late data.
"""

from __future__ import annotations

import contextlib
import os
import pathlib
import shutil
import tempfile
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def replay_rate(t0: float, t1: float, n_rows: int, speedup: float) -> float:
    """Rows/second for the paced replay of a series of ``n_rows`` rows
    from epoch second ``t0`` to ``t1``: speedup / mean inter-arrival (G4,
    simulator.py:185-203)."""
    if n_rows < 2 or t1 <= t0:
        return 1000.0
    return speedup / ((t1 - t0) / (n_rows - 1))


def stage_stream_source(df: DataFrame, path: str, chunks: int) -> None:
    """Stage a canonical table as `chunks` parquet files in time order; with
    ``maxFilesPerTrigger=1`` each trigger replays one time-slice (T1)."""
    df.repartitionByRange(chunks, "timestamp").write.mode("overwrite").parquet(path)


def read_replay_stream(spark: SparkSession, path: str) -> DataFrame:
    """The staged source as a stream, one time-slice file per trigger (T1)."""
    from exact_spark import io as _io

    schema = _io.read_parquet_memo(spark, path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def windowed_counts(
    stream_df: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """T5 extension: watermarked tumbling-window aggregate for late data."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("is_anomaly").cast("int")).alias("n_anomalies"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "n_anomalies",
        )
    )


def deduplicated_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    watermark: str = "30 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming exact dedup for the training-data ingest path (extension
    beyond T5): keep the FIRST arrival per key, drop any duplicate that
    arrives within the watermark delay of it.

    ``dropDuplicatesWithinWatermark`` holds per-key state only until the
    watermark passes ``first_seen_event_time + delay`` — state is bounded
    by the keys of one watermark horizon, not by all history, which is the
    only viable contract for continuous ingest (a plain
    ``dropDuplicates`` on a stream keys state on ALL keys ever seen and
    grows without bound). The flip side is documented semantics, not a
    bug: a duplicate arriving farther apart than the horizon re-emits;
    global exact dedup is the batch ``dedup_exact`` path over the landed
    table. Key state is hash-partitioned by key across executors.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def await_stream(query, timeout_s: float = 60.0) -> dict:
    """T4: wait for the bounded query to finish and return its final
    status. A failed query raises its error; one still running after
    ``timeout_s`` is stopped and raises ``TimeoutError``. Spark's wait
    takes a positive timeout, so 0 waits its shortest, 1 ms."""
    if not query.awaitTermination(max(timeout_s, 0.001)):
        query.stop()
        raise TimeoutError(f"stream query {query.name or query.id} ran past {timeout_s}s")
    return {"isActive": query.isActive, "lastProgress": query.lastProgress}


@contextlib.contextmanager
def _work_dir(prefix: str):
    """Per-run scratch dir, removed on exit. A bounded query's checkpoint
    is ephemeral by construction (a reused one would mark the offsets
    committed and the replay would be a silent no-op), so fsyncing its
    offset/commit/state files buys no durability while costing ~1-3 s of
    commit latency per query. ``SPARK_GRAFT_CKPT_DIR`` points the scratch
    at a faster filesystem (tmpfs in the bench); unset, the default
    tempdir is used. On a real cluster, durable checkpoints are the
    contract: leave the env unset there."""
    base = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if base:
        pathlib.Path(base).mkdir(parents=True, exist_ok=True)
    work = pathlib.Path(tempfile.mkdtemp(prefix=prefix, dir=base or None))
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


# A bounded query's scratch dir is removed within seconds of its end, so a
# dir untouched for an hour is a crashed run's leftover; younger dirs may
# belong to a concurrent process and are left alone.
_WORK_DIR_STALE_MIN_AGE_S = 3600.0


def sweep_stale_work_dirs() -> None:
    """Best-effort removal of ``_work_dir`` dirs (``exact_spark_*``) under
    ``SPARK_GRAFT_CKPT_DIR`` whose mtime is older than
    _WORK_DIR_STALE_MIN_AGE_S (the age-gated discipline of
    artifacts._gc_expired_fingerprints). A tmpfs checkpoint base is RAM,
    and no reaper clears it between runs."""
    base = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if not base:
        return
    now = time.time()
    for d in pathlib.Path(base).glob("exact_spark_*"):
        try:
            age = now - d.stat().st_mtime
        except OSError:
            continue  # vanished concurrently
        if age >= _WORK_DIR_STALE_MIN_AGE_S:
            shutil.rmtree(d, ignore_errors=True)


# State-store partition count for the BOUNDED streaming demos. A stateful
# streaming query creates one state store (plus one Arrow Python worker for
# applyInPandasWithState) per shuffle partition — a per-QUERY fixed cost
# paid again for every fresh checkpoint dir, independent of data volume.
# These demos replay a few-thousand-row slice over a few hundred keys, so
# the session default (32) spends ~6-8s of pure store/worker spin-up per
# run for parallelism the data cannot use (measured on stream_online_zscore:
# cold micro-batch 9.2s at 32 partitions -> 4.2s at 4; warm 1.7s -> 1.4s).
# At production scale the right number is sized to key cardinality x state
# size — keep the session default there; this constant is the demo-scale
# analog. Per-key folds (Welford, dedup, sessionization, windowed aggs,
# equi-keyed interval joins) are partition-count invariant, so results
# never change. ``run_bounded`` holds it only across a stateful query's start.
_DEMO_STATE_PARTITIONS = 4

_STATE_PARTITIONS_LOCK = threading.RLock()


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, n: int = _DEMO_STATE_PARTITIONS):
    """Temporarily set ``spark.sql.shuffle.partitions`` to ``n`` and
    restore the session value on exit. Held under one lock: two threads
    interleaving save/set/restore would leave the session at ``n`` for
    good."""
    with _STATE_PARTITIONS_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def run_bounded(
    frame: DataFrame,
    sink=None,
    *,
    checkpoint: str | None = None,
    stateful: bool = False,
    timeout_s: float = 120.0,
):
    """Run the bounded streaming ``frame`` to completion: one query that
    reads what its source holds at start, then stops.

    With no ``sink`` the rows land in a memory sink under a per-run name
    and come back as a frame, analyzed before the sink's view is dropped:
    the session keeps no view and two runs never share a name. With a
    ``foreachBatch`` ``sink`` the query's final status is returned.
    A ``stateful`` query sizes its state store at _DEMO_STATE_PARTITIONS;
    the query takes its shuffle-partition count when it starts, so the
    session-wide override is held only across ``start()``. A failed or
    timed-out query is stopped and raises (``await_stream``). The
    checkpoint, ``checkpoint`` or else a fresh ``_work_dir``, is removed on
    every exit path, after the query has stopped."""
    spark = frame.sparkSession
    with contextlib.ExitStack() as cleanup:
        if checkpoint is None:
            checkpoint = str(cleanup.enter_context(_work_dir("exact_spark_ckpt_")))
        else:
            cleanup.callback(shutil.rmtree, checkpoint, ignore_errors=True)
        writer = frame.writeStream.option("checkpointLocation", checkpoint)
        if sink is None:
            name = f"bounded_{uuid.uuid4().hex}"
            cleanup.callback(spark.catalog.dropTempView, name)
            writer = writer.format("memory").queryName(name)
        else:
            writer = writer.foreachBatch(sink)
        with _state_partitions(spark) if stateful else contextlib.nullcontext():
            query = writer.trigger(availableNow=True).start()
        cleanup.callback(query.stop)
        status = await_stream(query, timeout_s=timeout_s)
        return status if sink is not None else spark.table(name)


def split_sessions(buf: list, gap_seconds: float) -> list:
    """Split a sorted time buffer into gap-separated runs — the pure
    sessionization kernel shared by the stateful operator (and property-
    tested on its own: runs partition the input, intra-run gaps <= gap,
    inter-run gaps > gap)."""
    runs, cur = [], [buf[0]]
    for t in buf[1:]:
        if t - cur[-1] > gap_seconds:
            runs.append(cur)
            cur = [t]
        else:
            cur.append(t)
    runs.append(cur)
    return runs


def stateful_session_counts(
    stream_df: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "timestamp",
):
    """Custom stateful streaming operator (extension beyond T5): per-key
    gap-based sessionization with ``applyInPandasWithState`` — the pattern
    for operators Structured Streaming's built-ins can't express (a
    session is final only once no admissible event can extend it, so state
    must carry across micro-batches).

    Event-time correct under out-of-order arrival: state per key is the
    sorted buffer of not-yet-final event times. A session [start..end] is
    emitted exactly when the watermark passes ``end + gap`` — any event
    that could still extend or merge it would have ``ts <= end + gap <=
    wm`` and be dropped as late, so finality is proven by the watermark
    alone, not by arrival order. Event-time timeouts re-invoke the fold
    when the watermark crosses the earliest pending ``end + gap`` (the
    no-data batch after a bounded replay included), so tail sessions
    flush without any new event for the key. Finalized events leave the
    buffer, so state is bounded by the watermark horizon per key; the
    state store is hash-partitioned by key across executors — no global
    state, no driver involvement.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("session_start", T.DoubleType()),
            T.StructField("session_end", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("buf", T.ArrayType(T.DoubleType()))]
    )

    def _sessions(buf: list) -> list:
        return split_sessions(buf, gap_seconds)

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        (buf,) = state.get if state.exists else ([],)
        buf = sorted(
            list(buf)
            + [
                ts.timestamp()
                for pdf in pdfs
                for ts in pd.to_datetime(pdf[ts_col])
            ]
        )
        closed, keep = [], []
        if buf:
            wm = state.getCurrentWatermarkMs() / 1000.0
            for run in _sessions(buf):
                if run[-1] + gap_seconds <= wm:  # provably final
                    closed.append((str(key[0]), run[0], run[-1], len(run)))
                else:
                    keep.append(run)
        if keep:
            state.update(([t for run in keep for t in run],))
            # wake up when the watermark can finalize the earliest pending
            # session (guaranteed > current wm by the branch above)
            state.setTimeoutTimestamp(
                int((min(run[-1] for run in keep) + gap_seconds) * 1000)
            )
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                closed, columns=["key", "session_start", "session_end", "n_events"]
            )

    return (
        stream_df.withColumn("__key", F.col(key_col).cast("string"))
        .withWatermark(ts_col, watermark)
        .groupBy("__key")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_zscore_detector(
    stream_df: DataFrame,
    threshold: float = 3.0,
    min_obs: int = 10,
    key_col: str = "user_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
    watermark: str = "30 minutes",
):
    """Online per-key anomaly detector (extension beyond T5): running
    mean/variance via Welford's algorithm in ``applyInPandasWithState``,
    flagging |z| > threshold against the state BEFORE the event updates it.

    This is the adaptive complement to ``plans.stream.run_stream``'s
    pre-trained static model: no training pass, the baseline tracks each
    key forever, and state is O(1) per key (count, mean, M2) — the only viable shape
    for an unbounded keyed stream. Event-time correctness: within a
    micro-batch events are folded in event-time order, so a replay of the
    same stream produces identical flags regardless of batch boundaries
    (cross-batch reordering beyond the watermark is the usual streaming
    caveat and is documented, not hidden).
    """
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("event_epoch", T.DoubleType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("zscore", T.DoubleType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("m2", T.DoubleType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        rows = []
        events = sorted(
            (
                (ts.timestamp(), float(v))
                for pdf in pdfs
                for ts, v in zip(pd.to_datetime(pdf[ts_col]), pdf[value_col])
            )
        )
        for ep, v in events:
            if n >= min_obs and m2 > 0:
                sd = math.sqrt(m2 / (n - 1))
                z = (v - mean) / sd if sd > 0 else 0.0
            else:
                z = 0.0
            rows.append((str(key[0]), ep, v, z, abs(z) > threshold))
            # Welford update AFTER scoring: the event can't vouch for itself
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        state.update((n, mean, m2))
        if rows:
            yield pd.DataFrame(
                rows, columns=["key", "event_epoch", "value", "zscore", "is_anomaly"]
            )

    return (
        stream_df.withColumn("__key", F.col(key_col).cast("string"))
        .withWatermark(ts_col, watermark)
        .groupBy("__key")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
