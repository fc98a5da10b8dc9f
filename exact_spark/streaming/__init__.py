"""Structured Streaming operators (SURVEY.md §2.9, T1-T5).

``replay`` holds the building blocks; ``stream_replay_e2e`` below is the
driver-visible bounded end-to-end run. Every bounded query, each demo here
and ``plans.stream.run_stream``'s, opens its staged source with
``replay.read_replay_stream`` and runs through ``replay.run_bounded``: one
start, wait, stop and cleanup. A query that fails or runs past its
timeout is stopped and raises, so no demo reads a partial result.

A bounded replay is a DETERMINISTIC function of the source
table, so where the streaming semantics are themselves data-determined
(dedup by key, stateless enrich join, watermark-finalized windows,
gap sessions — custom AND built-in, stream-stream interval joins) the
query carries a real DuckDB oracle computing the EXPECTED result —
including the watermark emission rule (a window/session appears iff its
end <= max event time - watermark delay, ms-truncated where the engine
truncates), which the oracle states explicitly. Queries whose results
depend on model state or micro-batch boundaries (foreachBatch scoring,
drift monitor, CMS maintenance, the online z-score's sequential float
fold) stay rows-only.
"""

from __future__ import annotations

import math
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exact_spark import io
from exact_spark.functions import sql_fround
from exact_spark.registry import register
from exact_spark.streaming.replay import (
    _work_dir,
    deduplicated_stream,
    read_replay_stream,
    run_bounded,
    stage_stream_source,
    stateful_session_counts,
    streaming_zscore_detector,
    windowed_counts,
)


def _staged_source(spark: SparkSession, sf_dir: str, tag: str, build_df, chunks: int = 2) -> str:
    """Memoized staged replay source. Every bounded demo's staged slice is
    a DETERMINISTIC pure function of the events table, so it materializes
    once per corpus fingerprint (artifacts.materialize) and every later
    run — same suite, later suite, isolated re-timing — streams from the
    shared artifact instead of re-scanning events and re-writing the
    slice. Checkpoints stay per-run (a reused checkpoint would mark the
    offsets committed and the replay would be a silent no-op); only the
    SOURCE is shared. Slices with identical parameters share one tag."""
    from exact_spark.artifacts import materialize

    return materialize(
        pathlib.Path(sf_dir).resolve() / "events.parquet",
        "ssrc_" + tag,
        lambda staging: stage_stream_source(build_df(), staging, chunks),
    )


def _sql_bounded(days: float, mod: int) -> str:
    """The oracle's spelling of ``_bounded_events``: first ``days`` of the
    series, every ``mod``-th user (epoch_us exactly matches Spark's
    dtype-driven epoch_micros on the same parquet)."""
    horizon = int(days * 86400) * 1_000_000
    return f"""
    ep AS (SELECT epoch_us(ts) AS e, event_id, user_id, value FROM events),
    lo AS (SELECT MIN(e) AS lo FROM ep),
    b AS (SELECT e, event_id, user_id, value FROM ep, lo
          WHERE e < lo.lo + CAST({horizon} AS BIGINT) AND user_id % {mod} = 0)
    """


def _bounded_events(
    spark: SparkSession, sf_dir: str, days: float, user_mod: int, with_type: bool = False
):
    """Deterministic bounded slice of the events table for the streaming
    demos: first ``days`` of the series, every ``user_mod``-th user, with a
    proper event-time column regardless of the parquet timestamp storage
    generation (dtype-driven epoch handling)."""
    from exact_spark.functions import epoch_micros

    ev = io.load(spark, sf_dir, "events")
    ev = ev.withColumn("__ep_us", epoch_micros(ev, "ts"))
    lo = ev.agg(F.min("__ep_us")).collect()[0][0] or 0
    hi = lo + int(days * 86400) * 1_000_000
    cols = [
        "event_id",
        "user_id",
        F.timestamp_micros(F.col("__ep_us")).alias("timestamp"),
        "value",
    ]
    if with_type:
        cols.append("event_type")
    return ev.filter((F.col("__ep_us") < hi) & (F.col("user_id") % user_mod == 0)).select(
        *cols
    )


@register(
    "stream_watermark_dedup",
    sql=f"""WITH {_sql_bounded(2.0, 5)}
    SELECT user_id, count(*) AS n_unique_events FROM b GROUP BY user_id
    """,  # expected result: duplicates all fall inside the watermark
    doc="Streaming exact dedup for the ingest path, driver-visible bounded "
    "run: a 2-day events slice with every 5th event duplicated replays as "
    "a 2-chunk file stream; dropDuplicatesWithinWatermark keys state on "
    "event_id inside the watermark horizon (bounded state — the only "
    "viable contract for continuous ingest). Duplicates carry the same "
    "event time, so the drop decision is invariant to micro-batch "
    "boundaries; result is the per-user surviving-event count.",
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark,
        sf_dir,
        "sdedup_d2_m5_c2",
        lambda: (
            lambda base: base.unionByName(
                base.filter(F.col("event_id") % 5 == 0)  # replayed arrivals
            )
        )(_bounded_events(spark, sf_dir, days=2.0, user_mod=5)),
    )
    deduped = deduplicated_stream(
        read_replay_stream(spark, src), ["event_id"], watermark="30 minutes"
    )
    out = run_bounded(deduped, stateful=True)
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
        .orderBy("user_id")
    )


@register(
    "stream_stateful_sessions",
    # the emitted set is DATA-determined: sessions = per-user runs split at
    # gaps > 4h, emitted iff session_end + gap <= the FINAL watermark
    # (max event time, ms-truncated as Spark tracks it, minus 2h) — the
    # same finality-rule oracle pattern stream_windowed_counts proves;
    # bounds round-trip as exact integer micros
    sql=f"""WITH {_sql_bounded(3.0, 5)},
    s AS (
        SELECT CAST(user_id AS VARCHAR) AS key, e,
               CASE WHEN e - lag(e) OVER (PARTITION BY user_id ORDER BY e)
                         > 14400000000 OR
                         lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM b
    ),
    g AS (
        SELECT key, e,
               SUM(brk) OVER (PARTITION BY key ORDER BY e
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    ),
    sess AS (
        SELECT key, MIN(e) AS start_us, MAX(e) AS end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY key, sid
    ),
    wm AS (SELECT ((MAX(e) // 1000) - 7200000) / 1000.0 AS wm_s FROM b)
    SELECT key, start_us AS session_start_us, end_us AS session_end_us, n_events
    FROM sess, wm
    WHERE end_us / 1000000.0 + 14400.0 <= wm_s
    ORDER BY key, session_start_us
    """,
    doc="Per-user gap sessionization via applyInPandasWithState, "
    "driver-visible bounded run: a 3-day events slice replays as a "
    "2-chunk file stream; sessions emit exactly when the watermark proves "
    "them final (end + gap passed), state carries open sessions across "
    "micro-batches and tail sessions correctly stay unemitted. Result is "
    "the closed-session table (key, bounds as exact integer micros, event "
    "count) — oracle-hashed against the batch sessionization + the "
    "watermark finality rule.",
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark, sf_dir, "ev_d3_m5_c2", lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=5)
    )
    sessions = stateful_session_counts(
        read_replay_stream(spark, src),
        gap_seconds=4 * 3600.0,
        watermark="2 hours",
        key_col="user_id",
    )
    out = run_bounded(sessions, stateful=True)
    # bounds emit as float seconds from the pandas fold (~1e-7 s ulp
    # error from the ns/1e9 path); round back to the exact integer
    # micros the parquet stores so the hash compare is drift-free
    return spark.sql(
        "SELECT key, "
        "CAST(FLOOR(session_start * 1000000.0 + 0.5) AS LONG) AS session_start_us, "
        "CAST(FLOOR(session_end * 1000000.0 + 0.5) AS LONG) AS session_end_us, "
        "n_events "
        "FROM {out} ORDER BY key, session_start_us",
        out=out,
    )


@register(
    "stream_online_zscore",
    sql=None,  # custom stateful streaming operator -> rows-only check
    doc="Online per-key z-score anomaly detector (Welford running "
    "mean/variance in applyInPandasWithState, O(1) state per key), "
    "driver-visible bounded run: a 4-day events slice replays as ONE "
    "micro-batch so the event-time fold is reproducible end to end. "
    "Result is the per-user event/flag tally.",
)
def stream_online_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark,
        sf_dir,
        "ev_d4_m5_c1",
        lambda: _bounded_events(spark, sf_dir, days=4.0, user_mod=5),
        chunks=1,
    )
    scored = streaming_zscore_detector(
        read_replay_stream(spark, src), threshold=2.5, min_obs=10, key_col="user_id"
    )
    out = run_bounded(scored, stateful=True)
    return (
        out.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_flagged"),
        )
        .orderBy("key")
    )


@register(
    "stream_replay_e2e",
    sql=None,  # Structured Streaming run -> rows-only check
    doc="T1-T4 e2e (engine.py:207-255 intended semantics, rebuilt working): "
    "stage the canonical events series as a time-ordered chunked replay "
    "source, pre-train the threshold model, replay with inline injection "
    "(T2, row-local md5 percentage selection), score each micro-batch via "
    "foreachBatch with the broadcast model (only new rows — never the "
    "reference's full-table re-scan), append to the job_stream_ table, "
    "evaluate. Bounded: the query stops once the staged source is read.",
)
def stream_replay_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.operators.inject import AnomalySetting
    from exact_spark.operators.timeseries import canonical_events
    from exact_spark.plans.batch import BatchJob
    from exact_spark.plans.stream import run_stream
    from exact_spark.sources.catalog import JobCatalog

    with _work_dir("exact_spark_stream_") as work:
        # stage the canonical series as the job's input file (the stream
        # path ingests files, simulator.py:133-219); bounded to the first
        # 4k ids — a demo replay, deterministic under the dense-id order
        canon = (
            canonical_events(spark, sf_dir)
            .filter(F.col("id") <= 4_000)
            .select(
                F.col("ts_epoch").alias("t"), F.col("value").alias("v"),
                F.col("label").alias("lab"),
            )
        )
        csv_dir = work / "input"
        canon.coalesce(1).write.option("header", True).mode("overwrite").csv(
            str(csv_dir)
        )
        csv_file = next(str(p) for p in csv_dir.glob("*.csv"))

        job = BatchJob(
            job_name="replay_demo",
            filepath=csv_file,
            time_col="t",
            label_col="lab",
            anomaly_settings=[
                AnomalySetting(
                    "custom", 3600.0, 7200.0, magnitude=25.0,
                    percentage=100.0, columns=["v"],
                )
            ],
            model="threshold",
        )
        catalog = JobCatalog(spark, str(work / "warehouse"))
        result = run_stream(
            spark, catalog, job, str(work / "work"), chunks=2, timeout_s=120.0
        )
        m = result["metrics_all"]
        row = {
            "table_name": result["table_name"],
            "rows": int(result["rows"]),
            "tp": int(m["tp"]),
            "fp": int(m["fp"]),
            "fn": int(m["fn"]),
            "stream_finished": not result["stream_status"]["isActive"],
        }
        return spark.createDataFrame(
            [row],
            schema="table_name string, rows long, tp long, "
            "fp long, fn long, stream_finished boolean",
        )


def _user_cms_cells(df: DataFrame) -> DataFrame:
    """(r, idx, c) count-min cells over user_id frequencies — the same
    deterministic md5 hash family as sketch_heavy_hitters, so batch and
    streaming sketches are interchangeable artifacts."""
    from exact_spark.operators.text import _CMS_ROWS, _cms_idx

    key = F.col("user_id").cast("string")
    out = None
    for r in range(_CMS_ROWS):
        piece = df.select(F.lit(r).alias("r"), _cms_idx(r, key).alias("idx"))
        out = piece if out is None else out.unionByName(piece)
    return out.groupBy("r", "idx").agg(F.count(F.lit(1)).alias("c"))


def _sql_cms_maintain() -> str:
    """Oracle for stream_cms_maintain: the maintained sketch must equal the
    direct batch sketch, so every output metric is a batch expression over
    the bounded slice — cells from the same md5 hash family
    (text._sql_cms_idx), matches_direct pinned to 1 (a broken streaming
    fold yields 0 on the Spark side and hash-mismatches), and the top-3
    coverage flags recomputed from the cells themselves."""
    from exact_spark.operators.text import _CMS_ROWS, _sql_cms_idx

    uid = "CAST(user_id AS VARCHAR)"
    cells_union = " UNION ALL ".join(
        f"SELECT {r} AS r, {_sql_cms_idx(r, uid)} AS idx FROM b"
        for r in range(_CMS_ROWS)
    )
    probes_union = " UNION ALL ".join(
        f"SELECT user_id, true_c, {r} AS r, {_sql_cms_idx(r, uid)} AS idx FROM truth"
        for r in range(_CMS_ROWS)
    )
    return f"""
    WITH {_sql_bounded(3.0, 3)},
    cells AS (
        SELECT r, idx, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({cells_union}) GROUP BY r, idx
    ),
    truth AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_c FROM b
        GROUP BY user_id ORDER BY true_c DESC, user_id LIMIT 3
    ),
    probes AS ({probes_union}),
    covers AS (
        SELECT p.user_id, p.true_c, MIN(COALESCE(c.c, 0)) AS est
        FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.idx = p.idx
        GROUP BY p.user_id, p.true_c
    )
    SELECT 'n_batches' AS metric, CAST(3.0 AS DOUBLE) AS value
    UNION ALL SELECT 'n_cells', (SELECT CAST(COUNT(*) AS DOUBLE) FROM cells)
    UNION ALL SELECT 'total_mass_per_row', (SELECT CAST(COUNT(*) AS DOUBLE) FROM b)
    UNION ALL SELECT 'matches_direct', 1.0
    UNION ALL SELECT 'covers_user_' || CAST(user_id AS VARCHAR),
                     CAST(CASE WHEN est >= true_c THEN 1 ELSE 0 END AS DOUBLE)
              FROM covers
    """


@register(
    "stream_cms_maintain",
    sql=_sql_cms_maintain(),
    doc="Streaming sketch maintenance, driver-visible bounded run: a "
    "3-day events slice replays as a 3-chunk file stream and foreachBatch "
    "folds each micro-batch's count-min cells into the maintained sketch "
    "— the per-batch aggregation is fully distributed and only the "
    "bounded <=1KB cell table crosses to the sketch store, so the "
    "maintenance cost is independent of batch size. After the replay the "
    "maintained sketch must EQUAL the direct batch sketch over the same "
    "data cell-for-cell (CMS merge is exact addition — the property that "
    "makes the streaming and batch paths interchangeable), and the top "
    "exact users' estimates must never underestimate.",
)
def stream_cms_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.operators.text import _CMS_ROWS, _cms_idx

    src = _staged_source(
        spark,
        sf_dir,
        "ev_d3_m3_c3",
        lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=3),
        chunks=3,
    )
    sketch: dict[tuple[int, int], int] = {}
    n_batches = [0]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        for row in _user_cms_cells(batch_df).collect():
            k = (row["r"], row["idx"])
            sketch[k] = sketch.get(k, 0) + row["c"]

    run_bounded(read_replay_stream(spark, src), fold)
    staged = io.read_parquet_memo(spark, src)
    direct = {(r["r"], r["idx"]): r["c"] for r in _user_cms_cells(staged).collect()}
    matches = int(direct == sketch)
    # top-3 exact users: maintained-sketch estimate must cover truth
    top = (
        staged.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_c"))
        .orderBy(F.col("true_c").desc(), "user_id")
        .limit(3)
        .collect()
    )
    import hashlib

    def est(uid: int) -> int:
        vals = []
        for r in range(_CMS_ROWS):
            h = hashlib.md5(f"r{r}:{uid}".encode()).hexdigest()
            vals.append(sketch.get((r, int(h[:2], 16)), 0))
        return min(vals)

    rows = [
        ("n_batches", float(n_batches[0])),
        ("n_cells", float(len(sketch))),
        ("total_mass_per_row", float(sum(v for (r, _), v in sketch.items() if r == 0))),
        ("matches_direct", float(matches)),
    ] + [
        (f"covers_user_{t['user_id']}", float(int(est(t["user_id"]) >= t["true_c"])))
        for t in top
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register(
    "stream_windowed_counts",
    sql=f"""WITH {_sql_bounded(3.0, 5)},
    w AS (SELECT (e // 21600000000) * 21600 AS ws, count(*) AS n FROM b GROUP BY 1),
    wm AS (SELECT MAX(e) AS mx FROM b)
    SELECT ws AS window_start_epoch, CAST(n AS BIGINT) AS n_events,
           CAST(0 AS BIGINT) AS n_anomalies
    FROM w, wm
    WHERE (ws + 21600) * CAST(1000000 AS BIGINT) <= mx - 1800000000
    """,  # the APPEND-mode finality rule: window end <= max event time - 30min
    doc="T5 watermarked tumbling-window aggregation as a driver-visible "
    "bounded run: a 3-day events slice replays as a 2-chunk time-ordered "
    "file stream; 6-hour windows with a 30-minute watermark emit in "
    "APPEND mode exactly when the watermark proves them final, so the "
    "result is the finalized-window table — window membership is decided "
    "by event time, making the emitted set invariant to micro-batch "
    "boundaries. State is bounded by one watermark horizon of open "
    "windows regardless of stream length.",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark,
        sf_dir,
        "swin_d3_m5_c2",
        lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=5).withColumn(
            "is_anomaly", F.lit(False)
        ),
    )
    win = windowed_counts(read_replay_stream(spark, src), window="6 hours", watermark="30 minutes")
    out = run_bounded(win, stateful=True)
    return spark.sql(
        "SELECT CAST(window_start AS LONG) AS window_start_epoch, "
        "n_events, n_anomalies FROM {out} ORDER BY window_start",
        out=out,
    )


@register(
    "stream_static_enrich",
    sql=f"""WITH {_sql_bounded(4.0, 5)},
    prof AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (100.0 * count(*)) AS hist_mean
        FROM b GROUP BY user_id
    )
    SELECT b.user_id, count(*) AS n_events,
           CAST(SUM(CASE WHEN b.value > 1.5 * p.hist_mean THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM b JOIN prof p ON p.user_id = b.user_id GROUP BY b.user_id
    """,  # stateless join: expected = batch semantics on the bounded slice
    doc="Stream-static join, driver-visible bounded run (the enrichment "
    "shape every scoring stream needs: micro-batches joined against a "
    "slowly-changing dimension without restarting the query): a per-user "
    "profile (historical mean value in fixed point + event count) is "
    "computed ONCE as a static frame, a 2-day events slice replays as a "
    "2-chunk stream, and each micro-batch broadcast-joins the profile to "
    "flag events above 1.5x their user's historical mean. The join is "
    "stateless (no watermark state — static side pinned at query start), "
    "so state stays zero no matter how long the stream runs; result is "
    "the per-user event/flag tally.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _bounded_events(spark, sf_dir, days=4.0, user_mod=5)
    # static dimension: per-user historical profile (fixed-point mean)
    profile = base.groupBy(F.col("user_id").alias("p_user")).agg(
        (
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long"))
            / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("hist_mean"),
        F.count(F.lit(1)).alias("hist_n"),
    )
    stream = read_replay_stream(
        spark,
        _staged_source(
            spark,
            sf_dir,
            "ev_d4_m5_c2",
            lambda: _bounded_events(spark, sf_dir, days=4.0, user_mod=5),
        ),
    )
    enriched = stream.join(
        F.broadcast(profile), stream.user_id == F.col("p_user")
    ).withColumn("flag", F.col("value") > 1.5 * F.col("hist_mean"))
    out = run_bounded(enriched, stateful=True)
    return spark.sql(
        "SELECT user_id, count(*) AS n_events, "
        "CAST(sum(CAST(flag AS INT)) AS BIGINT) AS n_flagged "
        "FROM {out} GROUP BY user_id ORDER BY user_id",
        out=out,
    )


@register(
    "stream_drift_monitor",
    # The streaming execution is not SQL, but its RESULT is: the maintained
    # census must equal the batch census over the staged slice, so every
    # output metric is a deterministic batch expression over the bounded
    # events slice — including matches_direct, which the oracle pins to 1
    # (a broken fold yields 0 on the Spark side and hash-mismatches). The
    # drift statistic mirrors the Python fold term-for-term: double
    # divisions of exact integer counts, terms summed in bin order via an
    # ordered list_sum, fround'ed to 6 places on both sides.
    sql=f"""
    WITH {_sql_bounded(3.0, 3)},
    -- day-1 reference window starts at the min event time OF THE FILTERED
    -- SLICE (the Spark side computes lo_ts on base, after the user_id mod
    -- filter) — anchoring on the unfiltered min shifts the window whenever
    -- the corpus's earliest event belongs to a filtered-out user
    blo AS (SELECT MIN(e) AS blo FROM b),
    ref AS (SELECT value FROM b, blo
            WHERE e < blo.blo + CAST({86400 * 1_000_000} AS BIGINT)),
    span AS (SELECT CAST(MIN(value) AS DOUBLE) AS vlo,
                    CAST(MAX(value) AS DOUBLE) AS vhi FROM ref),
    w AS (SELECT vlo,
                 CASE WHEN (vhi - vlo) / 20.0 = 0.0 THEN 1.0
                      ELSE (vhi - vlo) / 20.0 END AS width
          FROM span),
    cur AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - w.vlo) / w.width) AS INT))) AS bin,
                   COUNT(*) AS c
            FROM b, w GROUP BY 1),
    refc AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR((CAST(value AS DOUBLE) - w.vlo) / w.width) AS INT))) AS bin,
                    COUNT(*) AS c
             FROM ref, w GROUP BY 1),
    tots AS (SELECT (SELECT SUM(c) FROM refc) AS tr, (SELECT SUM(c) FROM cur) AS tc),
    terms AS (
        SELECT g.range AS bin,
               COALESCE(r.c, 0) / CAST(t.tr AS DOUBLE) AS p,
               COALESCE(u.c, 0) / CAST(t.tc AS DOUBLE) AS q
        FROM range(0, 20) g
        LEFT JOIN refc r ON r.bin = g.range
        LEFT JOIN cur u ON u.bin = g.range, tots t
    ),
    drift AS (
        SELECT COALESCE(list_sum(
                   list((p - q) * (p - q) / (p + q + 1e-9) ORDER BY bin)
                   FILTER (WHERE p + q > 0)), 0.0) AS d
        FROM terms
    )
    SELECT 'n_batches' AS metric, CAST(3.0 AS DOUBLE) AS value
    UNION ALL SELECT 'n_bins_active', (SELECT CAST(COUNT(*) AS DOUBLE) FROM cur)
    UNION ALL SELECT 'matches_direct', 1.0
    UNION ALL SELECT 'drift_vs_reference', (SELECT {sql_fround('d')} FROM drift)
    """,
    doc="Streaming drift monitoring, driver-visible bounded run (the "
    "production-ML watchdog ml_drift_bins batch-computes, maintained "
    "incrementally): the value-distribution bins are FITTED on a static "
    "day-1 reference window, then a 3-day replay folds each micro-"
    "batch's bin census into the maintained counts via foreachBatch — "
    "per-batch counting is fully distributed, only the 20-cell census "
    "crosses to the store, so monitor cost is independent of batch "
    "size. After the replay the maintained census must EQUAL the direct "
    "batch census cell-for-cell (exact-addition merge, the CMS-maintain "
    "property) and the drift statistic vs the reference window is "
    "computed from the maintained counts alone.",
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bins = 20
    base = _bounded_events(spark, sf_dir, days=3.0, user_mod=3)
    # reference = day 1 (fit window), replay = the full slice
    lo_ts = base.agg(F.min("timestamp")).collect()[0][0]
    import datetime as _dt

    day1_end = lo_ts + _dt.timedelta(days=1)
    ref = base.filter(F.col("timestamp") < F.lit(day1_end))
    span = ref.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(span["lo"]), float(span["hi"])
    width = (hi - lo) / n_bins or 1.0

    def bin_col():
        return F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int")
            ),
        ).alias("bin")

    ref_counts = {
        r["bin"]: r["c"]
        for r in ref.groupBy(bin_col()).agg(F.count(F.lit(1)).alias("c")).collect()
    }

    src = _staged_source(
        spark,
        sf_dir,
        "ev_d3_m3_c3",
        lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=3),
        chunks=3,
    )
    maintained: dict[int, int] = {}
    n_batches = [0]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        for r in batch_df.groupBy(bin_col()).agg(F.count(F.lit(1)).alias("c")).collect():
            maintained[r["bin"]] = maintained.get(r["bin"], 0) + r["c"]

    run_bounded(read_replay_stream(spark, src), fold)
    direct = {
        r["bin"]: r["c"]
        for r in io.read_parquet_memo(spark, src)
        .groupBy(bin_col())
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    matches = int(direct == maintained)
    tot_ref = sum(ref_counts.values())
    tot_cur = sum(maintained.values())
    drift = 0.0
    for b in range(n_bins):
        p = ref_counts.get(b, 0) / tot_ref
        qv = maintained.get(b, 0) / tot_cur
        if p + qv > 0:
            drift += (p - qv) * (p - qv) / (p + qv + 1e-9)
    rows = [
        ("n_batches", float(n_batches[0])),
        ("n_bins_active", float(len(maintained))),
        ("matches_direct", float(matches)),
        # fround convention (floor(x*1e6+0.5)/1e6), NOT Python round():
        # banker's rounding is not what the oracle's SQL computes
        ("drift_vs_reference", math.floor(drift * 1e6 + 0.5) / 1e6),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register(
    "stream_stream_join",
    # the matched set is DATA-determined: an INNER interval join under
    # a bounded replay over time-ordered chunks emits exactly the batch-join
    # pairs (state eviction only drops a view once the watermark proves no
    # future purchase can reach back to it — views needed by chunk-2
    # purchases are at most 6h older than them and the chunk-1 watermark
    # lags its max by 1h, so nothing needed is ever evicted), making the
    # expected result plain batch SQL on the bounded slice
    sql="""
    WITH ep AS (SELECT epoch_us(ts) AS e, event_id, user_id, event_type
                FROM events),
    lo AS (SELECT MIN(e) AS lo FROM ep),
    b AS (SELECT e, event_id, user_id, event_type FROM ep, lo
          WHERE e < lo.lo + CAST(259200000000 AS BIGINT) AND user_id % 2 = 0),
    v AS (SELECT user_id AS v_user, e AS view_e FROM b
          WHERE event_type = 'view'),
    p AS (SELECT user_id AS p_user, event_id AS purchase_id, e AS purchase_e
          FROM b WHERE event_type = 'purchase'),
    j AS (SELECT p_user, purchase_id FROM p JOIN v
          ON p.p_user = v.v_user
          AND p.purchase_e >= v.view_e
          AND p.purchase_e <= v.view_e + 21600000000)
    SELECT p_user AS user_id,
           CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_attributed_purchases,
           CAST(count(*) AS BIGINT) AS n_view_purchase_pairs
    FROM j GROUP BY p_user ORDER BY p_user
    """,
    doc="Stream-STREAM interval join, driver-visible bounded run (the "
    "attribution shape: purchases joined to the view that preceded them "
    "within 6 hours, per user, both sides unbounded streams): a 3-day "
    "events slice replays as a 2-chunk file stream read TWICE — one "
    "reader filtered to views, one to purchases — each watermarked 1 "
    "hour; the join predicate is user equality plus the event-time "
    "range [view_ts, view_ts + 2h]. The range bound is what makes "
    "state finite: a buffered view is provably unmatchable once the "
    "purchase watermark passes view_ts + 6h and is evicted, so state "
    "holds one join-horizon of rows per side regardless of stream "
    "length — the contract that keeps the operator alive at 100 TB/day. "
    "Join rows are event-time decided, so the matched set is invariant "
    "to micro-batch boundaries; result is the per-user attributed-"
    "purchase tally.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark,
        sf_dir,
        "ev_d3_m2t_c2",
        lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=2, with_type=True),
    )
    views = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("timestamp").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 6 HOURS")),
    )
    out = run_bounded(joined, stateful=True)
    return spark.sql(
        "SELECT p_user AS user_id, "
        "count(DISTINCT purchase_id) AS n_attributed_purchases, "
        "count(*) AS n_view_purchase_pairs "
        "FROM {out} GROUP BY p_user ORDER BY p_user",
        out=out,
    )


@register(
    "stream_session_window_native",
    # the emitted set is DATA-determined: built-in session windows merge
    # while the next event is STRICTLY inside [prev, prev+gap) (split at
    # diff >= gap — one ulp apart from the custom operator's > gap),
    # window bounds are [first_event, last_event + gap), the LONG casts
    # truncate to whole seconds, and APPEND emits exactly the windows
    # whose end clears the final ms-truncated watermark
    sql=f"""WITH {_sql_bounded(3.0, 5)},
    s AS (
        SELECT user_id, e,
               CASE WHEN e - lag(e) OVER (PARTITION BY user_id ORDER BY e)
                         >= 14400000000 OR
                         lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM b
    ),
    g AS (
        SELECT user_id, e,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY e
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    ),
    sess AS (
        SELECT user_id, MIN(e) AS start_us, MAX(e) + 14400000000 AS end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, sid
    ),
    wm AS (SELECT ((MAX(e) // 1000) - 1800000) * 1000 AS wm_us FROM b)
    SELECT user_id, start_us // 1000000 AS session_start,
           end_us // 1000000 AS session_end, n_events
    FROM sess, wm WHERE end_us <= wm_us
    ORDER BY user_id, session_start
    """,
    doc="Native session_window aggregation, driver-visible bounded run — "
    "the BUILT-IN gap-session operator next to the custom "
    "applyInPandasWithState one (stream_stateful_sessions): same 3-day "
    "slice, same 4-hour gap, but sessions merge inside Spark's own "
    "session-window state store (dynamic-gap capable, no Python state "
    "function, JVM-side merging) and emit in APPEND mode when the "
    "30-minute watermark proves a session closed. Having BOTH paths "
    "registered documents the engine decision rule: built-in windows "
    "when gap semantics fit, custom state only when they don't. Result "
    "is the closed-session table (user, bounds, event count).",
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_source(
        spark, sf_dir, "ev_d3_m5_c2", lambda: _bounded_events(spark, sf_dir, days=3.0, user_mod=5)
    )
    sess = (
        read_replay_stream(spark, src)
        .withWatermark("timestamp", "30 minutes")
        .groupBy(
            F.col("user_id"),
            F.session_window("timestamp", "4 hours").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_bounded(sess, stateful=True)
    return spark.sql(
        "SELECT user_id, CAST(sw.start AS LONG) AS session_start, "
        "CAST(sw.end AS LONG) AS session_end, n_events "
        "FROM {out} ORDER BY user_id, session_start",
        out=out,
    )

