"""Core time-series table operators (SURVEY.md §2.1-2.2).

EXACT's data model is a canonical per-job time-series table
``(id, timestamp, features..., label, is_anomaly, injected_anomaly)``
(reference: Database/timescaledb_api.py:69-91). Here we canonicalize the
driver's ``events`` table the same way the reference canonicalizes an
ingested CSV (Backend/Simulator/BatchImport/batchimport.py:171-409):

- deterministic dense ``id`` from the global time ordering (row_number,
  tie-broken by the source key — batchimport.py:281 sorts then relies on
  insertion order; we make the tie-break explicit so results are stable
  under any partitioning)
- ``timestamp`` as the time axis (exposed as fractional epoch seconds so the
  oracle comparison is timezone-free)
- label normalization (batchimport.py:253-274): here the analog is
  ``event_type == 'error' -> 1 else 0``

Scale note: a global row_number is a single-partition sort at 100 TB, so
the canonical table is MATERIALIZED ONCE per source dir: dense ids come
from the two-pass range-partitioned scheme (sources/ingest.py
``with_dense_id`` — never a global sort) and the result is persisted as a
date-partitioned parquet job table. Every ts_* query reads that table —
a parallel, partition-prunable scan with ids stored, exactly how the
reference serves every query from the ingested hypertable rather than
re-canonicalizing the CSV per query. ``CANON_SQL`` remains the
oracle-checkable row_number specification the materialized ids must equal.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark import artifacts, io
from exact_spark.functions import (
    epoch_micros,
    epoch_seconds,
    favg,
    fround,
    fsum,
    sql_favg,
    sql_fround,
    sql_fsum,
)
from exact_spark.registry import register

# Canonicalization shared by many queries (Spark + oracle mirror).
CANON_SQL = """
    SELECT row_number() OVER (ORDER BY ts, event_id) AS id,
           epoch(ts) AS ts_epoch,
           user_id,
           event_type,
           value,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
    FROM events
"""

_CANON_COLS = ("id", "ts_epoch", "user_id", "event_type", "value", "label")


def _canonical_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> canonical frame via the scale-safe dense-id path.

    ``ts`` storage has varied across testdata generations (TIMESTAMP(NANOS)
    read as LONG ns, TIMESTAMP micros, TIMESTAMP_NTZ micros), so conversion
    is dtype-driven (``functions.epoch_micros``) and always lands on exact
    integer micros first: micros (~1.7e15) sit inside double's 2^53
    exact-integer range, and micros/1e6 is bit-identical to DuckDB's
    ``epoch(ts)``.

    ``with_dense_id`` orders on the micros integer; ts -> micros is
    monotonic, so bucket order preserves the (ts, event_id) global order
    and the ids equal the CANON_SQL row_number specification.
    """
    from exact_spark.sources.ingest import with_dense_id

    ev = io.load(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type", "value"
    )
    ev = ev.withColumn("__ts_us", epoch_micros(ev, "ts"))
    canon = with_dense_id(ev, ["__ts_us", "event_id"])
    return canon.select(
        "id",
        (F.col("__ts_us") / F.lit(1e6)).alias("ts_epoch"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )


# Below this source size, daily partitions are tiny files whose per-file
# open/list/schedule overhead dominates the scan; coarsen to month dirs.
# At real scale (a day of events is GBs) the decision is always "day".
_DAY_PARTITION_MIN_BYTES = 64 * 1024 * 1024


def canonical_granularity(path: str) -> str:
    """Partition granularity ('day' | 'month') of a materialized canonical
    table, recorded at write time in the ``_GRANULARITY`` marker."""
    marker = pathlib.Path(path) / "_GRANULARITY"
    return marker.read_text().strip() if marker.exists() else "day"


def _build_canonical_table(spark: SparkSession, sf_dir: str, staging: str) -> None:
    """Write the canonical job table: time-partitioned parquet plus the
    ``_GRANULARITY`` marker.

    Partition granularity adapts to the data: daily dirs when a day of data
    is a real file (the 100 TB case), month dirs below
    ``_DAY_PARTITION_MIN_BYTES`` so a small source doesn't shatter into
    dozens of KB-sized files (partition pruning still works — bounds are
    truncated to the granularity at read time)."""
    src = pathlib.Path(sf_dir).resolve() / "events.parquet"
    files = src.rglob("*") if src.is_dir() else [src]
    total_bytes = sum(p.stat().st_size for p in files if p.is_file())
    granularity = "day" if total_bytes >= _DAY_PARTITION_MIN_BYTES else "month"
    part = (
        F.to_date(F.timestamp_seconds("ts_epoch"))
        if granularity == "day"
        else F.trunc(F.to_date(F.timestamp_seconds("ts_epoch")), "month")
    )
    (
        _canonical_compute(spark, sf_dir)
        .withColumn("__date", part)
        .repartition("__date")
        .write.mode("overwrite")
        .partitionBy("__date")
        .parquet(staging)
    )
    (pathlib.Path(staging) / "_GRANULARITY").write_text(granularity)


# ingest imports CANON_SQL from this module, so bind it after that is defined
from exact_spark.sources import ingest as _ingest  # noqa: E402

artifacts.declare(
    "canon",
    "events.parquet",
    build=_build_canonical_table,
    helpers=(_canonical_compute, _ingest.with_dense_id),
)


def canonical_table_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the canonical job table for ``sf_dir``, materialized once per
    events fingerprint: every query gets a parallel multi-file scan with
    partition pruning on ``__date`` and stored ids, instead of re-running
    the ingest transform."""
    return artifacts.path("canon", spark, sf_dir)


def canonical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> canonical EXACT job table (P1-P5, P11), served from the
    materialized table (see ``canonical_table_path``)."""
    return artifacts.table("canon", spark, sf_dir).select(*_CANON_COLS)


def canonical_events_range(
    spark: SparkSession, sf_dir: str, t0: float, t1: float
) -> DataFrame:
    """Canonical events restricted to ``t0 <= ts_epoch < t1`` WITH
    partition pruning: the ``__date`` bounds (truncated to the table's
    recorded granularity) keep directories outside the span from even
    being listed — at 100 TB a 2-day span touches 2 date dirs, not the
    table. The exact epoch bounds then push into the surviving scans."""
    path = canonical_table_path(spark, sf_dir)
    df = io.read_parquet_memo(spark, path)
    lo = F.to_date(F.timestamp_seconds(F.lit(float(t0))))
    if canonical_granularity(path) == "month":
        # month dirs: a dir dated the 1st holds the whole month, so the
        # lower bound must include the month containing t0
        lo = F.trunc(lo, "month")
    return df.filter(
        (F.col("__date") >= lo)
        & (F.col("__date") <= F.to_date(F.timestamp_seconds(F.lit(float(t1)))))
        & (F.col("ts_epoch") >= float(t0))
        & (F.col("ts_epoch") < float(t1))
    ).select(*_CANON_COLS)


@register(
    "canon_materialize",
    sql=f"""
    SELECT count(*) AS n_rows,
           min(id) AS min_id,
           max(id) AS max_id,
           CAST(SUM(label) AS BIGINT) AS n_anomalies,
           {sql_fsum('value')} AS sum_value
    FROM ({CANON_SQL})
    """,
    doc="Explicit one-time canonical-table materialization (the ingest step "
    "every ts_* query rides on — batchimport.py:171-409 paid once, like the "
    "reference pays hypertable ingest once per job). Registered as its own "
    "query so per-query bench/correctness timings attribute the build cost "
    "here, not to whichever query happens to touch the table first; the "
    "returned invariants (row count, dense-id bounds, label and value "
    "totals) oracle-check the materialized ids against CANON_SQL.",
)
def canon_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum("label").cast("long").alias("n_anomalies"),
        fsum(F.col("value")).alias("sum_value"),
    )


@register(
    "ts_canonicalize",
    sql=f"SELECT id, ts_epoch, value, label FROM ({CANON_SQL})",
    doc="P1-P5+P11: ingest canonicalization — dense id over time order, "
    "epoch mapping, label normalization (batchimport.py:171-409).",
)
def ts_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_events(spark, sf_dir).select("id", "ts_epoch", "value", "label")


# Jan 10 .. Jan 20 2024 UTC — within the events table's time range.
_T0 = 1704844800.0  # 2024-01-10 00:00:00 UTC
_T1 = 1705708800.0  # 2024-01-20 00:00:00 UTC


@register(
    "ts_time_range_scan",
    sql=f"""
    SELECT id, ts_epoch, value, label
    FROM ({CANON_SQL})
    WHERE ts_epoch >= {_T0!r} AND ts_epoch <= {_T1!r}
    """,
    doc="S7: time-range read (timescaledb_api.py:152-174) against the "
    "materialized job table: ids are STORED, so BOTH time bounds prune — "
    "`__date` partition directories outside the range are never listed "
    "(PartitionFilters, the hypertable chunk-exclusion analog) and the "
    "exact ts_epoch bounds push into the parquet scan of the survivors.",
)
def ts_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = canonical_table_path(spark, sf_dir)
    df = io.read_parquet_memo(spark, path)
    lo = F.to_date(F.timestamp_seconds(F.lit(_T0)))
    if canonical_granularity(path) == "month":
        # month dirs: a dir dated the 1st holds the whole month, so the
        # lower bound must include the month containing T0
        lo = F.trunc(lo, "month")
    pruned = df.filter(
        (F.col("__date") >= lo)
        & (F.col("__date") <= F.to_date(F.timestamp_seconds(F.lit(_T1))))
        & (F.col("ts_epoch") >= _T0)
        & (F.col("ts_epoch") <= _T1)
    )
    return pruned.select("id", "ts_epoch", "value", "label")


@register(
    "ts_train_test_split",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    n AS (SELECT count(*) AS n_total FROM canon),
    tagged AS (
        SELECT c.*,
               CASE WHEN c.id <= CAST(FLOOR(0.85 * n.n_total) AS BIGINT)
                    THEN 'train' ELSE 'test' END AS split
        FROM canon c, n
    )
    SELECT split,
           count(*) AS n_rows,
           min(id) AS min_id,
           max(id) AS max_id,
           {sql_fsum('value')} AS sum_value
    FROM tagged GROUP BY split
    """,
    doc="P9: positional 85/15 train/test split by time order "
    "(execute_calls.py:333-346), re-expressed via the dense id.",
)
def ts_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    n_total = df.count()  # scalar driver-side aggregate; scale-safe
    cut = int(0.85 * n_total)
    tagged = df.withColumn(
        "split", F.when(F.col("id") <= cut, F.lit("train")).otherwise(F.lit("test"))
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        fsum(F.col("value")).alias("sum_value"),
    )


_K_PER_CLASS = 50


@register(
    "ts_balanced_sample",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    ranked AS (
        SELECT id, ts_epoch, value, label,
               row_number() OVER (PARTITION BY label ORDER BY ts_epoch DESC, id DESC) AS rn
        FROM canon
    )
    SELECT id, ts_epoch, value, label FROM ranked WHERE rn <= {_K_PER_CLASS}
    """,
    doc="P10: balanced temporal sample — most recent k rows per class "
    "(execute_calls.py:145-331), via per-class row_number, no collect.",
)
def ts_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(F.col("ts_epoch").desc(), F.col("id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _K_PER_CLASS)
        .select("id", "ts_epoch", "value", "label")
    )


@register(
    "ts_interarrival",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    diffs AS (
        SELECT user_id,
               ts_epoch - lag(ts_epoch) OVER (PARTITION BY user_id ORDER BY ts_epoch, id) AS dt
        FROM canon
    )
    SELECT user_id,
           count(dt) AS n_gaps,
           {sql_favg('dt')} AS mean_dt_seconds
    FROM diffs WHERE dt IS NOT NULL GROUP BY user_id
    """,
    doc="G4/W2: mean inter-arrival time via lag (simulator.py:185-203) — "
    "drives stream replay pacing.",
)
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "id")
    diffs = df.withColumn("dt", F.col("ts_epoch") - F.lag("ts_epoch").over(w)).filter(
        F.col("dt").isNotNull()
    )
    return diffs.groupBy("user_id").agg(
        F.count("dt").alias("n_gaps"),
        favg(F.col("dt")).alias("mean_dt_seconds"),
    )


@register(
    "ts_hourly_rollup",
    sql=f"""
    SELECT CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour_bucket,
           count(*) AS n_events,
           {sql_favg('value')} AS mean_value,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(SUM(label) AS BIGINT) AS n_anomalies
    FROM ({CANON_SQL})
    GROUP BY hour_bucket
    """,
    doc="Hypertable time-bucket rollup analog (continuous-aggregate shape): "
    "hourly bucket counts/stats/anomaly totals — one scan, partial agg, "
    "shuffle keyed on the bucket.",
)
def ts_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    return df.groupBy(
        F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        favg(F.col("value")).alias("mean_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("label").cast("long").alias("n_anomalies"),
    )


@register(
    "ts_asof_join",
    sql="""
    WITH tagged AS (
        SELECT event_id, user_id, event_type, ts,
               max(CASE WHEN event_type = 'error' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS le_ts
        FROM events
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS purchase_epoch,
           CAST(epoch_us(le_ts) AS DOUBLE) / 1000000.0 AS last_error_epoch,
           CAST(epoch_us(ts) - epoch_us(le_ts) AS DOUBLE) / 1000000.0 AS gap_seconds
    FROM tagged WHERE event_type = 'purchase'
    """,
    doc="As-of join (operator Spark lacks natively, SURVEY §7.3): for every "
    "purchase, the most recent error of the same user at-or-before it. "
    "Expressed as ONE pass with a per-user RANGE-frame running max — no "
    "join, no broadcast, the only shuffle is the user_id window partition; "
    "ties at equal timestamps match the inclusive as-of contract exactly.",
)
def ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    ev = ev.withColumn("__us", epoch_micros(ev, "ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    le = F.max(F.when(F.col("event_type") == "error", F.col("__us"))).over(w)
    tagged = ev.select("event_id", "user_id", "event_type", "__us", le.alias("__le_us"))
    return tagged.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("__us").cast("double") / F.lit(1e6)).alias("purchase_epoch"),
        (F.col("__le_us").cast("double") / F.lit(1e6)).alias("last_error_epoch"),
        ((F.col("__us") - F.col("__le_us")).cast("double") / F.lit(1e6)).alias("gap_seconds"),
    )


@register(
    "ts_column_stats",
    sql=f"""
    SELECT event_type,
           count(*) AS n_rows,
           min(value) AS min_value,
           max(value) AS max_value,
           {sql_favg('value')} AS mean_value,
           max(value) - min(value) AS data_range
    FROM ({CANON_SQL})
    GROUP BY event_type
    """,
    doc="G3/A10: per-group min/max/mean/range — the injector's stats pre-pass "
    "(anomalyinjector.py:149-154, simulator.py:176-183).",
)
def ts_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        favg(F.col("value")).alias("mean_value"),
        (F.max("value") - F.min("value")).alias("data_range"),
    )


# --- M4 plot downsampling ---------------------------------------------------

_M4_BUCKETS = 1000


@register(
    "ts_downsample_m4",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    bounds AS (
        SELECT min(ts_epoch) AS t0, max(ts_epoch) AS t1 FROM canon
    ),
    bucketed AS (
        SELECT c.id, c.ts_epoch, c.value,
               LEAST({_M4_BUCKETS - 1}, CAST(FLOOR(
                   (c.ts_epoch - b.t0) / (b.t1 - b.t0) * {_M4_BUCKETS}
               ) AS BIGINT)) AS bucket
        FROM canon c, bounds b
    )
    SELECT bucket,
           count(*) AS n_rows,
           min(value) AS min_value,
           max(value) AS max_value,
           min(ts_epoch) AS t_first,
           max(ts_epoch) AS t_last,
           arg_min(value, id) AS first_value,
           arg_max(value, id) AS last_value
    FROM bucketed GROUP BY bucket
    """,
    doc="M4 plot downsampling: the frontend's fixed point budget (initial "
    "zoom = 1000 points, job_page_callbacks.py:1000) computed engine-side "
    "— per time bucket, min/max/first/last preserve the series' visual "
    "envelope exactly at pixel resolution, turning a billion-row zoom "
    "into a 1000-row transfer. One scan + one partial-aggregable groupBy "
    "on the bucket key; first/last ride min_by/max_by on the dense id, "
    "no window.",
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    b = df.agg(F.min("ts_epoch").alias("t0"), F.max("ts_epoch").alias("t1"))
    bucket = F.least(
        F.lit(_M4_BUCKETS - 1).cast("long"),
        F.floor(
            (F.col("ts_epoch") - F.col("t0")) / (F.col("t1") - F.col("t0")) * _M4_BUCKETS
        ).cast("long"),
    )
    return (
        df.crossJoin(F.broadcast(b))
        .select("id", "ts_epoch", "value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min("ts_epoch").alias("t_first"),
            F.max("ts_epoch").alias("t_last"),
            F.min_by("value", "id").alias("first_value"),
            F.max_by("value", "id").alias("last_value"),
        )
    )


# --- time-grid gap filling --------------------------------------------------

_GF_STEP_S = 3600  # fill to an hourly grid
_GF_USERS = 20     # bound the demo slice: first N users


@register(
    "ts_gap_fill",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    src AS (
        SELECT user_id, ts_epoch, value FROM canon WHERE user_id < {_GF_USERS}
    ),
    bounds AS (
        SELECT user_id,
               CAST(FLOOR(min(ts_epoch) / {_GF_STEP_S}) AS BIGINT) AS b0,
               CAST(FLOOR(max(ts_epoch) / {_GF_STEP_S}) AS BIGINT) AS b1
        FROM src GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, b0 + j AS slot FROM bounds,
               UNNEST(range(0, b1 - b0 + 1)) AS t(j)
    ),
    obs AS (
        SELECT user_id, CAST(FLOOR(ts_epoch / {_GF_STEP_S}) AS BIGINT) AS slot,
               arg_max(value, ts_epoch) AS last_value,
               count(*) AS n_obs
        FROM src GROUP BY user_id, slot
    )
    SELECT g.user_id,
           CAST(g.slot * {_GF_STEP_S} AS DOUBLE) AS slot_epoch,
           COALESCE(o.n_obs, 0) AS n_obs,
           o.n_obs IS NULL AS filled,
           last_value(o.last_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill
    FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot
    """,
    doc="Regular-grid gap filling with forward fill — the resample step "
    "most time-series stores ship natively (Timescale time_bucket_gapfill "
    "+ locf) and Spark lacks: per key, the observed span explodes into "
    "hourly slots (sequence + explode, bounded by span/step), observations "
    "collapse onto their slot (arg_max by time = last observation), and "
    "empty slots forward-fill via last_value(IGNORE NULLS) over the slot "
    "order. Shuffles: one groupBy and one window, both keyed on user_id — "
    "grid size is data-bounded, never a cross join against a calendar "
    "table.",
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    df = canonical_events(spark, sf_dir).filter(F.col("user_id") < _GF_USERS)
    src = df.select("user_id", "ts_epoch", "value")
    bounds = src.groupBy("user_id").agg(
        F.floor(F.min("ts_epoch") / _GF_STEP_S).cast("long").alias("b0"),
        F.floor(F.max("ts_epoch") / _GF_STEP_S).cast("long").alias("b1"),
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("slot")
    )
    obs = (
        src.withColumn("slot", F.floor(F.col("ts_epoch") / _GF_STEP_S).cast("long"))
        .groupBy("user_id", "slot")
        .agg(
            F.max_by("value", "ts_epoch").alias("last_value"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "slot"], "left")
        .select(
            "user_id",
            (F.col("slot") * _GF_STEP_S).cast("double").alias("slot_epoch"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            F.col("n_obs").isNull().alias("filled"),
            F.last("last_value", ignorenulls=True).over(w).alias("value_ffill"),
        )
    )


# --- truncated-EWMA anomaly band ---------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_K = 16  # truncation: (1-alpha)^16 ~ 0.003 residual weight
_EWMA_Z = 3.0  # band width in residual-sigma units
_EWMA_FLOOR = 1e-9  # RELATIVE residual floor: a CONSTANT series has
# residuals of pure float rounding (the renormalized weights sum to 1 only
# to ~1e-16 of the VALUE, so the noise scales with the level) — the floor
# is applied per-row as _EWMA_FLOOR * max(1, |ewma|) so flat series of any
# magnitude stay unflagged while real deviations are untouched
_EWMA_USERS = 20  # bound the demo slice


def _ewma_weights() -> list[float]:
    """Literal truncated-EWMA lag weights w_j = alpha*(1-alpha)^j,
    renormalized over the K kept lags so the weights sum to 1 exactly —
    the truncation turns the infinite recursion into a FIXED linear
    combination of the last K values, which both engines evaluate as the
    same K-term expression (no recursion, no state)."""
    raw = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_K)]
    s = sum(raw)
    return [w / s for w in raw]


@register(
    "ts_ewma_band",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    src AS (
        SELECT user_id, id, ts_epoch, value FROM canon WHERE user_id < {_EWMA_USERS}
    ),
    lagged AS (
        SELECT user_id, id, ts_epoch, value,
               {" + ".join(f"{w!r} * LAG(value, {j + 1}) OVER w" for j, w in enumerate(_ewma_weights()))} AS ewma,
               COUNT(*) OVER (w ROWS BETWEEN {_EWMA_K} PRECEDING AND 1 PRECEDING) AS n_hist
        FROM src
        WINDOW w AS (PARTITION BY user_id ORDER BY id)
    ),
    resid AS (
        SELECT *, value - ewma AS r FROM lagged WHERE n_hist >= {_EWMA_K}
    ),
    sigma AS (
        SELECT user_id,
               sqrt(SUM(CAST(FLOOR(r * r * 1000000.0 + 0.5) AS BIGINT)) * 1.0
                    / (1000000.0 * COUNT(*))) AS s
        FROM resid GROUP BY user_id
    )
    SELECT r.user_id,
           COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN abs(r.r) > {_EWMA_Z} * g.s
                             AND abs(r.r) > {_EWMA_FLOOR!r} * GREATEST(1.0, abs(r.ewma))
                        THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM resid r JOIN sigma g ON g.user_id = r.user_id
    GROUP BY r.user_id
    """,
    doc="Truncated-EWMA anomaly band per series (the classic EWMA control "
    "chart, statistical-process-control shape): the recursive smoother is "
    "truncated to a FIXED 16-lag linear combination (residual weight "
    "~0.3%), so the forecast is a pure window expression — K LAG terms "
    "with literal weights, no recursion, no state, no UDF — and the plan "
    "is ONE shuffle keyed on the series with an ordinary per-key window. "
    "Rows flag when |value - ewma| exceeds 3 per-key residual sigmas "
    "(sigma through the fixed-point kernels). Output: per-key scored/"
    "flagged counts.",
)
def ts_ewma_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir).filter(F.col("user_id") < _EWMA_USERS)
    w = W.partitionBy("user_id").orderBy("id")
    ewma = None
    for j, wt in enumerate(_ewma_weights()):
        term = F.lag("value", j + 1).over(w) * F.lit(wt)
        ewma = term if ewma is None else ewma + term
    n_hist = F.count(F.lit(1)).over(w.rowsBetween(-_EWMA_K, -1))
    lagged = df.select(
        "user_id", "id", "value", ewma.alias("ewma"), n_hist.alias("n_hist")
    ).filter(F.col("n_hist") >= _EWMA_K)
    resid = lagged.withColumn("r", F.col("value") - F.col("ewma"))
    sigma = resid.groupBy("user_id").agg(
        F.sqrt(
            F.sum(F.floor(F.col("r") * F.col("r") * 1e6 + F.lit(0.5)).cast("long"))
            * F.lit(1.0)
            / (F.lit(1e6) * F.count(F.lit(1)))
        ).alias("s")
    )
    j = resid.join(F.broadcast(sigma), "user_id")
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            F.when(
                (F.abs(F.col("r")) > F.lit(_EWMA_Z) * F.col("s"))
                & (
                    F.abs(F.col("r"))
                    > F.lit(_EWMA_FLOOR) * F.greatest(F.lit(1.0), F.abs(F.col("ewma")))
                ),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_flagged"),
    )


# --- anomaly spans (gaps-and-islands over detector flags) --------------------

_SPAN_USERS = 20  # bound the demo slice, same as the EWMA band


@register(
    "ts_anomaly_spans",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    src AS (
        SELECT user_id, id, ts_epoch, value, label
        FROM canon WHERE user_id < {_SPAN_USERS}
    ),
    flagged AS (
        SELECT user_id, id, ts_epoch,
               id - row_number() OVER (PARTITION BY user_id ORDER BY id) AS grp
        FROM src WHERE label = 1
    )
    SELECT user_id,
           MIN(id) AS span_start_id,
           MAX(id) AS span_end_id,
           COUNT(*) AS n_rows,
           MIN(ts_epoch) AS span_start_ts,
           MAX(ts_epoch) AS span_end_ts
    FROM flagged GROUP BY user_id, grp
    """,
    doc="Anomaly SPAN summarization — the alert-episodes view the frontend "
    "renders from raw per-row flags: consecutive flagged rows (by the "
    "per-series dense id) merge into one span via the gaps-and-islands "
    "id - row_number() grouping constant, one window + one aggregate, "
    "both keyed on the series — no self-join, no iteration, the shape "
    "that turns a billion flag rows into thousands of episodes at scale.",
)
def ts_anomaly_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir).filter(F.col("user_id") < _SPAN_USERS)
    flagged = df.filter(F.col("label") == 1).withColumn(
        "grp",
        F.col("id") - F.row_number().over(W.partitionBy("user_id").orderBy("id")),
    )
    return flagged.groupBy("user_id", "grp").agg(
        F.min("id").alias("span_start_id"),
        F.max("id").alias("span_end_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts_epoch").alias("span_start_ts"),
        F.max("ts_epoch").alias("span_end_ts"),
    ).drop("grp")


_SN_SEASON = 24  # hours; one diurnal cycle


@register(
    "ts_seasonal_naive",
    sql=f"""
    WITH canon AS ({{canon}}),
    hourly AS (
        SELECT CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour_bucket,
               count(*) AS n
        FROM canon GROUP BY 1
    ),
    bounds AS (SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM hourly),
    grid AS (
        SELECT unnest(generate_series(lo, hi)) AS hour_bucket FROM bounds
    ),
    dense AS (
        SELECT g.hour_bucket, COALESCE(h.n, 0) AS n
        FROM grid g LEFT JOIN hourly h USING (hour_bucket)
    )
    SELECT d.hour_bucket,
           d.n AS n_events,
           s.n AS n_prev_day,
           p.n AS n_prev_hour,
           ABS(d.n - s.n) AS abs_err_seasonal,
           ABS(d.n - p.n) AS abs_err_persistence,
           (ABS(d.n - s.n) > 3.0 * SQRT(CAST(s.n AS DOUBLE) + 1.0)) AS spike_flag
    FROM dense d
    JOIN dense s ON s.hour_bucket = d.hour_bucket - {_SN_SEASON}
    JOIN dense p ON p.hour_bucket = d.hour_bucket - 1
    """.format(canon=CANON_SQL),
    doc="Seasonal-naive forecasting baseline over the event stream: the "
    "global hourly count series (densified over the data's own span, like "
    "ts_gap_fill) scored against its value one diurnal cycle earlier and "
    "one hour earlier, with a Poisson-band spike flag — the standard "
    "sanity baseline any forecasting/anomaly stack is graded against. "
    "Plan shape: ONE map-side-combinable groupBy builds the hourly "
    "census; the dense grid explodes from a single min/max row (bounded "
    "by the span, never by raw cardinality); the two lag features are "
    "shifted EQUI-joins on the hour key rather than a global-ORDER "
    "window, so there is no single-partition sort at any history length; "
    "sqrt is IEEE-correctly-rounded, so the band is cross-engine exact.",
)
def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    # The dense hourly series used to feed a 3-way self-join (current /
    # -24h / -1h sides), and each side re-expanded the hourly census'
    # canonical-events lineage: 6 corpus scans. (A .cache() fix measured
    # slower locally — materialization cost on a sub-second query.)
    # Instead each dense row FANS OUT to the up-to-3 target hours it
    # serves (itself, +24h as the seasonal lag, +1h as the persistence
    # lag — a bounded x3 in-row explode of the tiny dense grid) and one
    # groupBy per target hour reassembles (d, s, p); requiring all three
    # roles reproduces the inner joins exactly (the dense grid is
    # gap-free, so a role is present iff its source hour is in span).
    # Corpus scans: 2 (bounds pass + census pass — the broadcast-
    # threshold floor).
    hourly = df.groupBy(
        F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = hourly.agg(
        F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_bucket")
    )
    dense = (
        grid.join(hourly, "hour_bucket", "left")
        .select("hour_bucket", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
    )
    roles = dense.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("hour_bucket").alias("t"), F.lit("d").alias("r"), F.col("n")
                ),
                F.struct(
                    (F.col("hour_bucket") + _SN_SEASON).alias("t"),
                    F.lit("s").alias("r"),
                    F.col("n"),
                ),
                F.struct(
                    (F.col("hour_bucket") + 1).alias("t"),
                    F.lit("p").alias("r"),
                    F.col("n"),
                ),
            )
        ).alias("x")
    ).select("x.t", "x.r", "x.n")
    agg = roles.groupBy("t").agg(
        F.max(F.when(F.col("r") == "d", F.col("n"))).alias("n_d"),
        F.max(F.when(F.col("r") == "s", F.col("n"))).alias("n_s"),
        F.max(F.when(F.col("r") == "p", F.col("n"))).alias("n_p"),
    )
    j = agg.filter(
        F.col("n_d").isNotNull()
        & F.col("n_s").isNotNull()
        & F.col("n_p").isNotNull()
    )
    err_s = F.abs(F.col("n_d") - F.col("n_s"))
    return j.select(
        F.col("t").alias("hour_bucket"),
        F.col("n_d").alias("n_events"),
        F.col("n_s").alias("n_prev_day"),
        F.col("n_p").alias("n_prev_hour"),
        err_s.alias("abs_err_seasonal"),
        F.abs(F.col("n_d") - F.col("n_p")).alias("abs_err_persistence"),
        (err_s > 3.0 * F.sqrt(F.col("n_s").cast("double") + 1.0)).alias("spike_flag"),
    )


@register(
    "ts_props_extract",
    sql="""
    WITH ext AS (
        SELECT event_type,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           COUNT(DISTINCT k) AS n_distinct_k,
           CAST(SUM(CASE WHEN label = 1 THEN k ELSE 0 END) AS BIGINT) AS sum_k_anomalous
    FROM ext GROUP BY event_type
    """,
    doc="Schema-on-read extraction of the semi-structured props column: "
    "parse the JSON payload per row (from_json with an explicit schema — "
    "typed, null-safe, JVM-side) and roll the extracted field up per "
    "event type, including the anomaly-mass slice. Plan shape: the parse "
    "is a per-row expression inside the scan projection (whole-stage "
    "codegen, no UDF), the rollup is one map-side-combinable groupBy on "
    "a low-cardinality key; all aggregates are integer-exact.",
)
def ts_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    ext = ev.select(
        "event_type",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("k"),
    )
    return ext.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"),
        F.sum(F.when(F.col("label") == 1, F.col("k")).otherwise(0))
        .cast("long")
        .alias("sum_k_anomalous"),
    )


@register(
    "ts_funnel",
    sql="""
    WITH canon AS ({canon}),
    u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts_epoch END) AS v_ts
        FROM canon GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts_epoch) AS c_ts
        FROM canon e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts_epoch >= u.v_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts_epoch) AS p_ts
        FROM canon e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts_epoch >= c.c_ts
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM u) AS n_users,
           (SELECT count(v_ts) FROM u) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click,
           (CAST((SELECT count(*) FROM c) AS DOUBLE)
              / (SELECT count(v_ts) FROM u)) AS view_to_click,
           (CAST((SELECT count(*) FROM p) AS DOUBLE)
              / (SELECT count(*) FROM c)) AS click_to_purchase
    """.format(canon=CANON_SQL),
    doc="Ordered funnel analysis (view -> click -> purchase): a user "
    "converts a stage only by an event AT OR AFTER their previous stage's "
    "first completion — the sequential pattern every product-analytics "
    "engine ships. Plan shape: the three stage timestamps are chained "
    "conditional MINs over ONE user-partitioned Window spec, so the "
    "whole funnel costs a single user_id shuffle (Catalyst stacks the "
    "dependent Window ops on the same exchange); the final row is a "
    "scalar aggregate. No joins, no per-user iteration.",
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    v_ts = F.min(F.when(F.col("event_type") == "view", F.col("ts_epoch"))).over(w)
    staged = df.withColumn("v_ts", v_ts)
    c_ts = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_epoch") >= F.col("v_ts")),
            F.col("ts_epoch"),
        )
    ).over(w)
    staged = staged.withColumn("c_ts", c_ts)
    p_ts = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts_epoch") >= F.col("c_ts")),
            F.col("ts_epoch"),
        )
    ).over(w)
    staged = staged.withColumn("p_ts", p_ts)
    per_user = staged.groupBy("user_id").agg(
        F.min("v_ts").alias("v_ts"), F.min("c_ts").alias("c_ts"), F.min("p_ts").alias("p_ts")
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v_ts").alias("n_view"),
        F.count("c_ts").alias("n_click_after_view"),
        F.count("p_ts").alias("n_purchase_after_click"),
    )
    return agg.select(
        "n_users",
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        (F.col("n_click_after_view").cast("double") / F.col("n_view")).alias(
            "view_to_click"
        ),
        (
            F.col("n_purchase_after_click").cast("double")
            / F.col("n_click_after_view")
        ).alias("click_to_purchase"),
    )


@register(
    "ts_retention_cohorts",
    sql="""
    WITH canon AS ({canon}),
    days AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(ts_epoch / 86400.0) AS BIGINT) AS day
        FROM canon
    ),
    cohorts AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id),
    sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM cohorts GROUP BY cohort_day)
    SELECT c.cohort_day,
           d.day - c.cohort_day AS day_offset,
           count(*) AS n_active,
           s.cohort_size,
           (CAST(count(*) AS DOUBLE) / s.cohort_size) AS retention
    FROM days d
    JOIN cohorts c ON c.user_id = d.user_id
    JOIN sizes s ON s.cohort_day = c.cohort_day
    GROUP BY c.cohort_day, d.day - c.cohort_day, s.cohort_size
    """.format(canon=CANON_SQL),
    doc="Retention cohort matrix: users grouped by first-active day, "
    "retention = fraction of the cohort active again N days later — the "
    "other standard product-analytics rollup next to ts_funnel. Plan "
    "shape: one DISTINCT on (user, day) (map-side combinable), the "
    "cohort assignment is a groupBy on the SAME user_id partitioning "
    "(no second exchange for the join back), cohort sizes broadcast, "
    "and the final matrix is a tiny aggregate — cells bounded by "
    "days^2, never by user count.",
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    # ONE scan, no joins: the cohort assignment and the cohort size were
    # a groupBy + two joins back onto the activity table, re-expanding
    # the canonical-events lineage per consumer (3 corpus scans). Both
    # are windows over the small (user, day) distinct table instead:
    # cohort_day = min(day) per user, and cohort_size counts each
    # cohort's first-day rows (exactly one per user, since (user, day)
    # is distinct) over the cohort_day partitioning.
    from pyspark.sql.window import Window as _W

    days = df.select(
        "user_id", F.floor(F.col("ts_epoch") / 86400.0).cast("long").alias("day")
    ).distinct()
    j = days.withColumn(
        "cohort_day", F.min("day").over(_W.partitionBy("user_id"))
    ).withColumn(
        "cohort_size",
        F.sum(
            F.when(F.col("day") == F.col("cohort_day"), 1).otherwise(0)
        ).over(_W.partitionBy("cohort_day")),
    )
    return (
        j.groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            "cohort_size",
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention"),
        )
    )


@register(
    "ts_user_growth",
    sql="""
    WITH canon AS ({canon}),
    firsts AS (
        SELECT user_id,
               MIN(CAST(FLOOR(ts_epoch / 86400.0) AS BIGINT)) AS first_day
        FROM canon GROUP BY user_id
    ),
    daily AS (SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY first_day)
    SELECT day,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_users
    FROM daily
    """.format(canon=CANON_SQL),
    doc="User growth curve (cumulative uniques by first-seen day — the DAU/"
    "adoption rollup): one groupBy collapses each user to a first-seen "
    "day, a second tiny groupBy counts per-day cohort entries, and the "
    "running total windows over the DAY series — whose cardinality is "
    "the calendar, not the user count, so the unpartitioned cumsum "
    "window is bounded (10 years = 3.7k rows) no matter how many "
    "billions of users the input holds.",
)
def ts_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    firsts = df.groupBy("user_id").agg(
        F.min(F.floor(F.col("ts_epoch") / 86400.0).cast("long")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "ts_event_type_markov",
    sql="""
    WITH canon AS ({canon}),
    lagged AS (
        SELECT user_id, event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY id) AS prev
        FROM canon
    ),
    trans AS (
        SELECT prev, cur, count(*) AS c
        FROM lagged WHERE prev IS NOT NULL
        GROUP BY prev, cur
    ),
    outc AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS c_out FROM trans GROUP BY prev)
    SELECT t.prev, t.cur, t.c AS n_transitions, o.c_out AS n_from_prev,
           (CAST(t.c AS DOUBLE) / o.c_out) AS p_transition
    FROM trans t JOIN outc o ON o.prev = t.prev
    """.format(canon=CANON_SQL),
    doc="First-order Markov transition statistics over per-user event "
    "sequences (the sequence-modeling prep every behavioral model "
    "starts from, and the base distribution behind the LM-score idea "
    "applied to event streams): P(next type | current type) from exact "
    "integer transition counts. Plan shape: one LAG over the "
    "user-partitioned window (single user_id shuffle), one map-side-"
    "combinable census on the (prev, cur) pair — the transition matrix "
    "is |types|^2 rows at any event volume; probabilities are single "
    "divisions over exact integers.",
)
def ts_event_type_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("id")
    lagged = df.select(
        "user_id", F.col("event_type").alias("cur"), F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    trans = lagged.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    outc = trans.groupBy("prev").agg(F.sum("c").cast("long").alias("c_out"))
    return trans.join(outc, "prev").select(
        "prev",
        "cur",
        F.col("c").alias("n_transitions"),
        F.col("c_out").alias("n_from_prev"),
        (F.col("c").cast("double") / F.col("c_out")).alias("p_transition"),
    )


@register(
    "ts_dau_wau",
    sql="""
    WITH canon AS ({canon}),
    days AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(ts_epoch / 86400.0) AS BIGINT) AS day
        FROM canon
    ),
    grid AS (SELECT DISTINCT day FROM days),
    wau AS (
        SELECT g.day, count(DISTINCT d.user_id) AS wau
        FROM grid g JOIN days d ON d.day BETWEEN g.day - 6 AND g.day
        GROUP BY g.day
    ),
    dau AS (SELECT day, count(*) AS dau FROM days GROUP BY day)
    SELECT d.day, d.dau, w.wau,
           (CAST(d.dau AS DOUBLE) / w.wau) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """.format(canon=CANON_SQL),
    doc="DAU/WAU stickiness (the engagement ratio product teams watch "
    "daily): distinct active users per day over distinct active users in "
    "the trailing 7 days. Plan shape: ONE (user, day) DISTINCT collapses "
    "the event volume to at most users x days rows; the trailing-window "
    "distinct joins that small activity table against the tiny "
    "broadcast day grid with a BETWEEN predicate (grid cardinality = "
    "the calendar), so the range join never touches raw events; DAU "
    "rides the same distinct table.",
)
def ts_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    # ONE scan, ONE aggregation: the previous shape consumed the (user,
    # day) distinct table three times (grid, WAU range join, DAU census),
    # re-expanding the canonical-events lineage per consumer (3 corpus
    # scans; a .cache() fix measured ~2x SLOWER locally — the
    # materialization serialized the branches). Instead each activity row
    # fans out to the 7 WAU days it contributes to (a bounded x7 explode
    # of the tiny distinct table), and one groupBy computes WAU and —
    # via the day==g_day slice — DAU; dau > 0 keeps exactly the
    # observed-day grid the old inner join produced.
    days = df.select(
        "user_id", F.floor(F.col("ts_epoch") / 86400.0).cast("long").alias("day")
    ).distinct()
    acts = days.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("g_day"),
    )
    wd = acts.groupBy("g_day").agg(
        F.countDistinct("user_id").alias("wau"),
        F.countDistinct(
            F.when(F.col("day") == F.col("g_day"), F.col("user_id"))
        ).alias("dau"),
    )
    return wd.filter(F.col("dau") > 0).select(
        F.col("g_day").alias("day"),
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


# --- CUSUM changepoint (AMOC estimator per series) ---------------------------


def cusum_changepoint(
    df: DataFrame, key: str = "event_type", order: str = "id", value: str = "value"
) -> DataFrame:
    """AMOC changepoint per key over ``(key, order, value, ts_epoch)`` rows
    (the reusable core; see the registered query's doc for exactness and
    plan-shape notes)."""
    from pyspark.sql.window import Window as W

    v_fx = F.floor(F.col(value) * 1e6 + F.lit(0.5)).cast("long")
    w = W.partitionBy(key).orderBy(order)
    wall = W.partitionBy(key)
    cum = df.select(
        key,
        order,
        "ts_epoch",
        F.row_number().over(w).alias("i"),
        F.sum(v_fx).over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum_fx"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum(v_fx).over(wall).alias("total_fx"),
    )
    abs_d = F.abs(F.col("n") * F.col("cum_fx") - F.col("i") * F.col("total_fx"))
    dev = cum.select(
        key,
        "ts_epoch",
        "i",
        "n",
        abs_d.alias("abs_d"),
        F.row_number()
        .over(W.partitionBy(key).orderBy(abs_d.desc(), F.col("i").asc()))
        .alias("rk"),
    )
    return dev.filter(F.col("rk") == 1).select(
        key,
        F.col("n").alias("n_rows"),
        F.col("i").alias("cp_index"),
        F.col("ts_epoch").alias("cp_epoch"),
        ((F.col("abs_d").cast("double") / F.col("n")) / F.lit(1e6)).alias("max_dev"),
    )



@register(
    "ts_changepoint_cusum",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT event_type, id, ts_epoch,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_fx
        FROM canon
    ),
    cum AS (
        SELECT event_type, id, ts_epoch,
               row_number() OVER w AS i,
               SUM(v_fx) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_fx,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               SUM(v_fx) OVER (PARTITION BY event_type) AS total_fx
        FROM fx
        WINDOW w AS (PARTITION BY event_type ORDER BY id)
    ),
    dev AS (
        SELECT event_type, id, ts_epoch, i, n,
               abs(n * cum_fx - i * total_fx) AS abs_d,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(n * cum_fx - i * total_fx) DESC, i ASC
               ) AS rk
        FROM cum
    )
    SELECT event_type,
           n AS n_rows,
           i AS cp_index,
           ts_epoch AS cp_epoch,
           ((CAST(abs_d AS DOUBLE) / n) / 1000000.0) AS max_dev
    FROM dev WHERE rk = 1
    """,
    doc="CUSUM changepoint per series (the AMOC 'at most one change' "
    "estimator: the index maximizing |cumulative deviation from the "
    "series mean| is the least-squares single-changepoint location). "
    "The mean never materializes as a float: with S_i the fixed-point "
    "prefix sum and T the series total, n*S_i - i*T is the deviation "
    "scaled by n — pure BIGINT, so argmax and tie-breaks (earliest "
    "index) are integer-exact cross-engine; the one divide back to "
    "measure units happens after selection. Plan shape: ONE shuffle "
    "keyed on the series id — the prefix sum, the per-series totals, "
    "and the argmax rank are all windows over the same partitioning, "
    "parallel across series. (v*1e6 fixed-point bounds: prefix sums "
    "times n must stay under 2^63 — for series beyond ~1e5 rows of "
    "1e3-magnitude values, drop to cent scale.)",
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_changepoint(canonical_events(spark, sf_dir))


# --- autocorrelation function (per-series ACF at small lags) -----------------

_ACF_MAX_LAG = 5


def autocorrelation(
    df: DataFrame,
    max_lag: int = _ACF_MAX_LAG,
    key: str = "event_type",
    order: str = "id",
    value: str = "value",
) -> DataFrame:
    """Per-key ACF at lags 1..max_lag over ``(key, order, value)`` rows
    (the reusable core; see the registered query's doc for exactness and
    plan-shape notes)."""
    from pyspark.sql.window import Window as W

    _ACF_MAX_LAG = max_lag
    w = W.partitionBy(key).orderBy(order)
    centered = df.select(
        key,
        order,
        (
            F.floor(F.col(value) * 100.0 + F.lit(0.5)).cast("long")
            - F.expr(
                f"CAST(SUM(CAST(FLOOR({value} * 100.0 + 0.5) AS BIGINT)) OVER "
                f"(PARTITION BY {key}) DIV COUNT(*) OVER (PARTITION BY {key}) AS BIGINT)"
            )
        ).alias("d"),
    )
    lagged = centered.select(
        key,
        "d",
        *[F.lag("d", k).over(w).alias(f"d{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    sums = lagged.groupBy(key).agg(
        F.sum(F.col("d") * F.col("d")).alias("s0"),
        *[
            F.sum(
                F.when(F.col(f"d{k}").isNull(), 0).otherwise(F.col("d") * F.col(f"d{k}"))
            ).alias(f"s{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    lag_map = F.create_map(
        *[x for k in range(1, _ACF_MAX_LAG + 1) for x in (F.lit(k), F.col(f"s{k}"))]
    )
    return (
        sums.select(
            key,
            F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("lag_k"),
            lag_map.alias("m"),
            "s0",
        )
        .select(
            key,
            F.col("lag_k").cast("long").alias("lag_k"),
            (F.col("m")[F.col("lag_k")].cast("double") / F.col("s0")).alias("acf"),
        )
    )



@register(
    "ts_autocorrelation",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT event_type, id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx
        FROM canon
    ),
    centered AS (
        SELECT event_type, id,
               v_fx - (SUM(v_fx) OVER (PARTITION BY event_type)
                       // COUNT(*) OVER (PARTITION BY event_type)) AS d
        FROM fx
    ),
    lagged AS (
        SELECT event_type, d,
               {", ".join(f"LAG(d, {k}) OVER (PARTITION BY event_type ORDER BY id) AS d{k}" for k in range(1, _ACF_MAX_LAG + 1))}
        FROM centered
    ),
    sums AS (
        SELECT event_type,
               CAST(SUM(d * d) AS BIGINT) AS s0,
               {", ".join(f"CAST(SUM(CASE WHEN d{k} IS NULL THEN 0 ELSE d * d{k} END) AS BIGINT) AS s{k}" for k in range(1, _ACF_MAX_LAG + 1))}
        FROM lagged
        GROUP BY event_type
    )
    SELECT event_type, u.lag AS lag_k,
           (CAST(CASE u.lag {" ".join(f"WHEN {k} THEN s{k}" for k in range(1, _ACF_MAX_LAG + 1))} END AS DOUBLE)
              / s0) AS acf
    FROM sums, UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS u(lag)
    """,
    doc="Per-series autocorrelation at lags 1..{K} (the seasonality/"
    "persistence diagnostic feeding window-size and model choices). "
    "Exactness: values center on the INTEGER-floored fixed-point mean "
    "(a deterministic statistic — no float mean enters the products), "
    "so every lag-product sum is a BIGINT and the ACF is one divide. "
    "Plan shape: one shuffle keyed on the series — the per-series mean "
    "is an unbounded window over the same partitioning, the K lag "
    "columns come from one ordered window pass, and all K+1 product "
    "sums reduce in ONE groupBy (no per-lag scans); the lag fan-out to "
    "rows happens on the K-row-per-series result, not the data.".format(
        K=_ACF_MAX_LAG
    ),
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorrelation(canonical_events(spark, sf_dir))


# --- frequent event trigrams (order-3 sequence mining) -----------------------

_TRIGRAM_TOPK = 20


@register(
    "ts_event_trigrams",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    seq AS (
        SELECT user_id, event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM canon
        WINDOW w AS (PARTITION BY user_id ORDER BY id)
    ),
    census AS (
        SELECT e1, e2, e3, count(*) AS n_occurrences
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY e1, e2, e3
    ),
    tot AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS n_total FROM census)
    SELECT c.e1, c.e2, c.e3, c.n_occurrences,
           (CAST(c.n_occurrences AS DOUBLE) / t.n_total) AS support
    FROM census c, tot t
    ORDER BY c.n_occurrences DESC, c.e1, c.e2, c.e3
    LIMIT {_TRIGRAM_TOPK}
    """,
    doc="Frequent per-user event trigrams (order-3 sequential-pattern "
    "mining — the behavioral-motif census one step past the Markov "
    "transition profile: 'view->click->purchase happens N times' is a "
    "path, not an edge). Plan shape: one shuffle keyed on the series "
    "(two LEADs in one ordered window pass build each trigram in-row — "
    "sequences never materialize), a map-side-combinable census over at "
    "most |types|^3 keys, support from a 1-row broadcast total, "
    "distributed top-K with full deterministic tie-breaks.",
)
def ts_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("id")
    seq = df.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    census = seq.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    from pyspark.sql.window import Window as _W

    # support's global total as a window over the census frame — one
    # lineage, so the event sequence is scanned once (a broadcast re-join
    # of a separate total would scan it again)
    return (
        census.withColumn(
            "n_total",
            F.sum("n_occurrences").over(_W.partitionBy()).cast("long"),
        )
        .select(
            "e1",
            "e2",
            "e3",
            "n_occurrences",
            (F.col("n_occurrences").cast("double") / F.col("n_total")).alias("support"),
        )
        .orderBy(F.col("n_occurrences").desc(), "e1", "e2", "e3")
        .limit(_TRIGRAM_TOPK)
    )


# --- lagged cross-correlation between two event series -----------------------

_XCORR_A, _XCORR_B = "view", "purchase"
_XCORR_MAX_LAG = 3  # hours


@register(
    "ts_cross_correlation",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    hourly AS (
        SELECT CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour,
               CAST(SUM(CASE WHEN event_type = '{_XCORR_A}' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = '{_XCORR_B}' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM canon GROUP BY CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT)
    ),
    lagged AS (
        SELECT a.x, b.y, u.lag AS lag_h
        FROM UNNEST(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG} + 1)) AS u(lag)
        JOIN hourly a ON TRUE
        JOIN hourly b ON b.hour = a.hour + u.lag
    ),
    sums AS (
        SELECT lag_h,
               count(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM lagged GROUP BY lag_h
    )
    SELECT lag_h, n,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) AS xcorr
    FROM sums
    """,
    doc="Lagged cross-correlation between two event series ('do views "
    "lead purchases, and by how many hours' — the lead/lag dependency "
    "diagnostic behind attribution windows and forecasting features): "
    "hourly counts for both types come out of ONE census pass (integer "
    "cells), each lag in -K..K aligns the two series by a shifted "
    "EQUI-join on the hour key (never an ordered window over history), "
    "and Pearson r per lag derives from six BIGINT sums in a fixed "
    "single-op sequence — cross-engine exact, no order-dependent float "
    "reduction. Plan: one census groupBy + one 2K+1-way bounded join + "
    "one lag-keyed reduce.",
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    hourly = df.groupBy(
        F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour")
    ).agg(
        F.sum(F.when(F.col("event_type") == _XCORR_A, 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == _XCORR_B, 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    lags = spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag_h")
    )
    a = hourly.select(F.col("hour").alias("a_hour"), "x")
    b = hourly.select(F.col("hour").alias("b_hour"), "y")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b_hour") == F.col("a_hour") + F.col("lag_h"))
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("long")
    sy = F.sum("y").cast("long")
    sxy = F.sum(F.col("x") * F.col("y")).cast("long")
    sxx = F.sum(F.col("x") * F.col("x")).cast("long")
    syy = F.sum(F.col("y") * F.col("y")).cast("long")
    sums = lagged.groupBy("lag_h").agg(
        n.alias("n"), sx.alias("sx"), sy.alias("sy"), sxy.alias("sxy"),
        sxx.alias("sxx"), syy.alias("syy"),
    )
    r = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.sqrt(F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * F.sqrt(F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return sums.select("lag_h", "n", r.alias("xcorr"))


# --- concurrent-session load curve -------------------------------------------

_CONC_GAP_S = 1800  # 30-minute session gap


@register(
    "ts_concurrent_sessions",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    flagged AS (
        SELECT user_id, ts_epoch,
               CASE WHEN ts_epoch - LAG(ts_epoch) OVER w > {_CONC_GAP_S}
                         OR LAG(ts_epoch) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM canon
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, id)
    ),
    sess AS (
        SELECT user_id, grp,
               MIN(ts_epoch) AS s_start,
               MAX(ts_epoch) AS s_end
        FROM (
            SELECT user_id, ts_epoch,
                   SUM(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts_epoch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS grp
            FROM flagged
        )
        GROUP BY user_id, grp
    ),
    deltas AS (
        SELECT s_start AS t, 1 AS d FROM sess
        UNION ALL
        SELECT s_end + 1 AS t, -1 AS d FROM sess
    ),
    curve AS (
        SELECT t, SUM(SUM(d)) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS concurrent
        FROM deltas GROUP BY t
    )
    SELECT CAST(FLOOR(t / 86400.0) AS BIGINT) AS day,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
    FROM curve
    GROUP BY CAST(FLOOR(t / 86400.0) AS BIGINT)
    """,
    doc="Peak concurrent sessions per day (the capacity-planning load "
    "curve: how many users are in an active session at once): gap "
    "sessionization per user (one user-keyed shuffle), each session "
    "becomes a +1/-1 stabbing pair, the census collapses the deltas to "
    "distinct boundary instants BEFORE the cumulative window, and the "
    "running concurrency is one ordered prefix sum over those (session-"
    "cardinality, not event-cardinality) boundary rows. The prefix "
    "window orders globally but over collapsed boundaries — at 100 TB "
    "partition it by coarse time range exactly like the dense-id "
    "two-pass scheme.",
)
def ts_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_epoch", "id")
    lag_ts = F.lag("ts_epoch").over(w)
    flagged = df.select(
        "user_id",
        "ts_epoch",
        F.when(
            lag_ts.isNull() | (F.col("ts_epoch") - lag_ts > _CONC_GAP_S), 1
        ).otherwise(0).alias("is_start"),
    )
    grp = F.sum("is_start").over(
        W.partitionBy("user_id").orderBy("ts_epoch").rowsBetween(W.unboundedPreceding, 0)
    )
    sess = (
        flagged.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(F.min("ts_epoch").alias("s_start"), F.max("ts_epoch").alias("s_end"))
    )
    deltas = sess.select(F.col("s_start").alias("t"), F.lit(1).alias("d")).unionByName(
        sess.select((F.col("s_end") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    curve = (
        deltas.groupBy("t")
        .agg(F.sum("d").alias("dd"))
        .withColumn(
            "concurrent",
            F.sum("dd").over(W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return curve.groupBy(
        F.floor(F.col("t") / 86400.0).cast("long").alias("day")
    ).agg(F.max("concurrent").cast("long").alias("peak_concurrent"))


# --- missing-data / gap profile ----------------------------------------------

_GAP_BUCKETS = (60, 300, 1800, 7200)  # seconds: <1m, 1-5m, 5-30m, 30m-2h, >2h


@register(
    "ts_gap_profile",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    gaps AS (
        SELECT user_id,
               ts_epoch - LAG(ts_epoch) OVER (
                   PARTITION BY user_id ORDER BY ts_epoch, id
               ) AS gap_s
        FROM canon
    ),
    bucketed AS (
        SELECT CASE
                 WHEN gap_s < {_GAP_BUCKETS[0]} THEN 'a_lt_1m'
                 WHEN gap_s < {_GAP_BUCKETS[1]} THEN 'b_1m_5m'
                 WHEN gap_s < {_GAP_BUCKETS[2]} THEN 'c_5m_30m'
                 WHEN gap_s < {_GAP_BUCKETS[3]} THEN 'd_30m_2h'
                 ELSE 'e_gt_2h'
               END AS gap_bucket,
               gap_s
        FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT gap_bucket,
           count(*) AS n_gaps,
           CAST(SUM(CAST(FLOOR(gap_s * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_gap_us,
           (SUM(CAST(FLOOR(gap_s * 1000000.0 + 0.5) AS BIGINT)) * 1.0
              / (1000000.0 * count(*))) AS mean_gap_s
    FROM bucketed
    GROUP BY gap_bucket
    """,
    doc="Inter-arrival gap profile per series key (the missing-data census "
    "run BEFORE choosing a gap-fill or imputation policy — ts_gap_fill's "
    "diagnostic twin: how much of the record is small jitter vs real "
    "outage): per-user consecutive gaps from one ordered window pass, "
    "bucketed into operational bands, census over 5 keys. Gap mass "
    "sums in fixed-point micros so the totals are cross-engine exact.",
)
def ts_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_epoch", "id")
    gap = (F.col("ts_epoch") - F.lag("ts_epoch").over(w)).alias("gap_s")
    gaps = df.select("user_id", gap).filter(F.col("gap_s").isNotNull())
    b = (
        F.when(F.col("gap_s") < _GAP_BUCKETS[0], "a_lt_1m")
        .when(F.col("gap_s") < _GAP_BUCKETS[1], "b_1m_5m")
        .when(F.col("gap_s") < _GAP_BUCKETS[2], "c_5m_30m")
        .when(F.col("gap_s") < _GAP_BUCKETS[3], "d_30m_2h")
        .otherwise("e_gt_2h")
    )
    g_fx = F.floor(F.col("gap_s") * 1e6 + F.lit(0.5)).cast("long")
    return gaps.groupBy(b.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(g_fx).cast("long").alias("total_gap_us"),
        (F.sum(g_fx) * F.lit(1.0) / (F.lit(1e6) * F.count(F.lit(1)))).alias("mean_gap_s"),
    )


# --- seasonality strength (variance decomposition) ---------------------------


@register(
    "ts_seasonality_strength",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) % 24 AS hod,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx
        FROM canon
    ),
    cells AS (
        SELECT event_type, hod,
               count(*) AS n_c,
               CAST(SUM(v_fx) AS BIGINT) AS s_c
        FROM fx GROUP BY event_type, hod
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(n_c) AS BIGINT) AS n,
               CAST(SUM(s_c) AS BIGINT) AS s,
               (SELECT CAST(SUM(v_fx * v_fx) AS BIGINT) FROM fx f
                WHERE f.event_type = cells.event_type) AS ss
        FROM cells GROUP BY event_type
    ),
    between_g AS (
        SELECT event_type,
               CAST(SUM(CAST(FLOOR((CAST(s_c AS DOUBLE) * s_c / n_c) * 100.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS bsum_fx
        FROM cells
        GROUP BY event_type
    )
    SELECT t.event_type,
           t.n AS n_rows,
           (((CAST(b.bsum_fx AS DOUBLE) / 100.0)
             - (CAST(t.s AS DOUBLE) * t.s / t.n))
            / (CAST(t.ss AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s / t.n))
               AS seasonality_strength
    FROM tot t JOIN between_g b ON b.event_type = t.event_type
    """,
    doc="Hour-of-day seasonality strength per series: the one-way variance "
    "decomposition SS_between / SS_total over 24 hour-of-day cells (~1 "
    "means the hour profile explains the series; ~0 means no diurnal "
    "structure — the statistic that decides whether seasonal-naive or "
    "EWMA is the right baseline). Exactness: SS_between = sum_c s_c^2/"
    "n_c - s^2/n; each cell term is ONE divide of BIGINT cell sums then "
    "fixed-point summed (no order-dependent float reduction), the final "
    "ratio a fixed single-op sequence. Plan: one cell census (map-side combinable), one "
    "sum-of-squares pass, joins over |types| rows.",
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    fx = df.select(
        "event_type",
        (F.floor(F.col("ts_epoch") / 3600.0).cast("long") % 24).alias("hod"),
        v_fx.alias("v_fx"),
    )
    cells = fx.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("v_fx").cast("long").alias("s_c")
    )
    tot = fx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_fx").cast("long").alias("s"),
        F.sum(F.col("v_fx") * F.col("v_fx")).cast("long").alias("ss"),
    )
    term_fx = F.floor(
        (F.col("s_c").cast("double") * F.col("s_c") / F.col("n_c")) * 100.0 + F.lit(0.5)
    ).cast("long")
    between = cells.groupBy("event_type").agg(
        F.sum(term_fx).cast("long").alias("bsum_fx")
    )
    out = tot.join(between, "event_type")
    ssb = (F.col("bsum_fx").cast("double") / 100.0) - (
        F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    sst = F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    return out.select(
        "event_type",
        F.col("n").alias("n_rows"),
        (ssb / sst).alias("seasonality_strength"),
    )


# --- Fano factor (point-process dispersion) ----------------------------------


@register(
    "ts_fano_factor",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    cells AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour,
               count(*) AS c
        FROM canon GROUP BY event_type, CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT)
    ),
    stats AS (
        SELECT event_type,
               count(*) AS n_hours,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM cells GROUP BY event_type
    )
    SELECT event_type, n_hours,
           (CAST(s AS DOUBLE) / n_hours) AS mean_per_hour,
           ((CAST(ss AS DOUBLE) * n_hours - CAST(s AS DOUBLE) * s)
              / (CAST(n_hours AS DOUBLE) * n_hours)) AS var_per_hour,
           (((CAST(ss AS DOUBLE) * n_hours - CAST(s AS DOUBLE) * s)
              / (CAST(n_hours AS DOUBLE) * n_hours))
            / (CAST(s AS DOUBLE) / n_hours)) AS fano_factor
    FROM stats
    """,
    doc="Fano factor per event stream (the point-process dispersion "
    "diagnostic: variance/mean of hourly counts — 1 for a Poisson "
    "process, >1 bursty/clumped, <1 regular; decides whether the "
    "seasonal-naive Poisson spike band's distributional assumption "
    "holds): one hourly census (map-side combinable), per-type moment "
    "sums as BIGINTs, variance and the ratio as a fixed single-op "
    "sequence — occupied hours only, stated as such (empty hours would "
    "need the gap-fill grid).",
)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    cells = df.groupBy(
        "event_type", F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_hours")
    var = (
        F.col("ss").cast("double") * F.col("n_hours")
        - F.col("s").cast("double") * F.col("s")
    ) / (F.col("n_hours").cast("double") * F.col("n_hours"))
    return stats.select(
        "event_type",
        "n_hours",
        mean.alias("mean_per_hour"),
        var.alias("var_per_hour"),
        (var / mean).alias("fano_factor"),
    )


def _forecast_backtest_sql() -> str:
    """Composes the registered ts_seasonal_naive spec into its corpus-level
    scorecard, so forecaster and scorecard cannot drift."""
    from exact_spark.registry import REGISTRY

    sn = REGISTRY["ts_seasonal_naive"].sql
    return f"""
    WITH scored AS ({sn})
    SELECT count(*) AS n_hours,
           CAST(SUM(n_events) AS BIGINT) AS sum_actual,
           CAST(SUM(abs_err_seasonal) AS BIGINT) AS sum_abs_err_seasonal,
           CAST(SUM(abs_err_persistence) AS BIGINT) AS sum_abs_err_persistence,
           (CAST(SUM(abs_err_seasonal) AS DOUBLE) / SUM(n_events)) AS wape_seasonal,
           (CAST(SUM(abs_err_persistence) AS DOUBLE) / SUM(n_events)) AS wape_persistence,
           CASE WHEN SUM(abs_err_seasonal) < SUM(abs_err_persistence)
                THEN 'seasonal' ELSE 'persistence' END AS winner
    FROM scored
    """


@register(
    "ts_forecast_backtest",
    sql=_forecast_backtest_sql(),  # composes the registered sibling spec
    doc="Backtest scorecard of the two registered forecasting baselines — "
    "WAPE (weighted absolute percentage error) of seasonal-naive vs "
    "1-hour persistence over the full hourly series, and which one wins "
    "(the model-selection read the ts_seasonality_strength diagnostic "
    "predicts; this MEASURES it — the same train-measure loop closure "
    "as text_bpe_apply and sim_ivf_recall). Composed from the "
    "REGISTERED ts_seasonal_naive spec in both plan and SQL. All-BIGINT "
    "absolute-error sums, WAPE one divide each; the scorecard reduces "
    "the span-bounded hourly grid to a single row — constant output at "
    "any history length.",
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = ts_seasonal_naive(spark, sf_dir)
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_events").cast("long").alias("sum_actual"),
        F.sum("abs_err_seasonal").cast("long").alias("sum_abs_err_seasonal"),
        F.sum("abs_err_persistence").cast("long").alias("sum_abs_err_persistence"),
    )
    return agg.select(
        "n_hours",
        "sum_actual",
        "sum_abs_err_seasonal",
        "sum_abs_err_persistence",
        (
            F.col("sum_abs_err_seasonal").cast("double") / F.col("sum_actual")
        ).alias("wape_seasonal"),
        (
            F.col("sum_abs_err_persistence").cast("double") / F.col("sum_actual")
        ).alias("wape_persistence"),
        F.when(
            F.col("sum_abs_err_seasonal") < F.col("sum_abs_err_persistence"),
            F.lit("seasonal"),
        )
        .otherwise(F.lit("persistence"))
        .alias("winner"),
    )


# --- classical additive decomposition ---------------------------------------
# y = trend + seasonal + residual at hourly grain: trend is a centered
# +/-12h moving average over the hourly means, seasonal the hour-of-day
# mean of the detrended series, residual the remainder. Every intermediate
# is fixed-point integer (1e-2) before any cross-row reduction, so window
# sums and cell means are exact integer arithmetic in both engines — the
# only doubles are single final divides, each a deterministic IEEE op.

_DECOMP_HALF_WIN = 12  # hours each side of the centered trend window


@register(
    "ts_classical_decompose",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    cells AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_fx,
               count(*) AS n_c
        FROM canon GROUP BY event_type, CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT)
    ),
    hourly AS (
        SELECT event_type, hour,
               CAST(FLOOR(CAST(s_fx AS DOUBLE) / n_c + 0.5) AS BIGINT) AS m_fx
        FROM cells
    ),
    trended AS (
        SELECT event_type, hour, m_fx,
               CAST(SUM(m_fx) OVER w AS BIGINT) AS w_sum,
               CAST(COUNT(*) OVER w AS BIGINT) AS w_cnt
        FROM hourly
        WINDOW w AS (
            PARTITION BY event_type ORDER BY hour
            RANGE BETWEEN {_DECOMP_HALF_WIN} PRECEDING
                      AND {_DECOMP_HALF_WIN} FOLLOWING
        )
    ),
    det AS (
        SELECT event_type, hour, m_fx, w_sum, w_cnt,
               CAST(FLOOR((CAST(m_fx AS DOUBLE) - CAST(w_sum AS DOUBLE) / w_cnt)
                          + 0.5) AS BIGINT) AS det_fx
        FROM trended
    ),
    seasonal AS (
        SELECT event_type, hour % 24 AS hod,
               CAST(SUM(det_fx) AS BIGINT) AS sd, count(*) AS nd
        FROM det GROUP BY event_type, hour % 24
    )
    SELECT d.event_type, d.hour,
           CAST(d.m_fx AS DOUBLE) / 100.0 AS y_mean,
           (CAST(d.w_sum AS DOUBLE) / d.w_cnt) / 100.0 AS trend,
           (CAST(s.sd AS DOUBLE) / s.nd) / 100.0 AS seasonal,
           (CAST(d.det_fx AS DOUBLE) - CAST(s.sd AS DOUBLE) / s.nd) / 100.0
               AS residual
    FROM det d JOIN seasonal s
      ON s.event_type = d.event_type AND s.hod = d.hour % 24
    """,
    doc="Classical additive seasonal decomposition per event stream "
    "(y = trend + seasonal + residual — the decomposition behind "
    "ts_seasonality_strength's summary number, materialized as columns): "
    "trend is the centered +/-12h moving average over HOURLY MEANS (the "
    "RANGE frame keeps gap hours from shrinking the window silently), "
    "seasonal the hour-of-day mean of the detrended series, residual the "
    "remainder the anomaly detectors should be fed. Exactness: hourly "
    "means, the detrended series, and seasonal cells are all fixed-point "
    "1e-2 BIGINTs before any cross-row reduction, so window sums are "
    "integer (no float summation-order drift); each output column is a "
    "deterministic single divide, and y = trend + seasonal + residual "
    "reconstructs to within HALF an fx unit (0.005 — one rounding, "
    "never accumulated; property-tested). Plan: the corpus collapses to "
    "(type, hour) cells in ONE map-side-combinable groupBy — the window, "
    "the seasonal census, and the join all run over series-length rows, "
    "never raw events; the only raw-data shuffle is the cell groupBy.",
)
def ts_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    cells = (
        df.select(
            "event_type",
            F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour"),
            v_fx.alias("v_fx"),
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("v_fx").cast("long").alias("s_fx"), F.count(F.lit(1)).alias("n_c"))
    )
    hourly = cells.select(
        "event_type",
        "hour",
        F.floor(F.col("s_fx").cast("double") / F.col("n_c") + F.lit(0.5))
        .cast("long")
        .alias("m_fx"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rangeBetween(-_DECOMP_HALF_WIN, _DECOMP_HALF_WIN)
    )
    trended = hourly.select(
        "event_type",
        "hour",
        "m_fx",
        F.sum("m_fx").over(w).cast("long").alias("w_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("w_cnt"),
    )
    det = trended.withColumn(
        "det_fx",
        F.floor(
            (F.col("m_fx").cast("double") - F.col("w_sum").cast("double") / F.col("w_cnt"))
            + F.lit(0.5)
        ).cast("long"),
    )
    seasonal = (
        det.groupBy(
            F.col("event_type").alias("s_type"), (F.col("hour") % 24).alias("hod")
        )
        .agg(F.sum("det_fx").cast("long").alias("sd"), F.count(F.lit(1)).alias("nd"))
    )
    j = det.join(
        F.broadcast(seasonal),
        (F.col("event_type") == F.col("s_type")) & (F.col("hod") == F.col("hour") % 24),
    )
    s_mean = F.col("sd").cast("double") / F.col("nd")
    return j.select(
        "event_type",
        "hour",
        (F.col("m_fx").cast("double") / 100.0).alias("y_mean"),
        ((F.col("w_sum").cast("double") / F.col("w_cnt")) / 100.0).alias("trend"),
        (s_mean / 100.0).alias("seasonal"),
        ((F.col("det_fx").cast("double") - s_mean) / 100.0).alias("residual"),
    )


# --- Holt double exponential smoothing ---------------------------------------
# Level+trend forecasting one notch above ts_seasonal_naive / ts_ewma_band:
# l_t = a*y_t + (1-a)*(l_{t-1}+b_{t-1}); b_t = g*(l_t-l_{t-1}) + (1-g)*b_{t-1}.
# The recurrence is inherently sequential IN t but embarrassingly parallel
# ACROSS series, so the Spark plan is applyInPandas per event_type over the
# hourly-mean series (bounded: one row per hour — a YEAR is 8760 rows/series)
# while the corpus-sized work stays in the cell groupBy. a = g = 1/2: halving
# is exact in binary, and both engines evaluate the identical IEEE op tree,
# so level/trend are bit-identical to the oracle's recursive CTE.

_HOLT_ALPHA = 0.5  # both smoothing constants; 1/2 keeps every op exact-dyadic


@register(
    "ts_holt_linear",
    sql=f"""
    WITH RECURSIVE canon AS ({CANON_SQL}),
    cells AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_fx,
               count(*) AS n_c
        FROM canon GROUP BY event_type, CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT)
    ),
    hourly AS (
        SELECT event_type, hour,
               CAST(FLOOR(CAST(s_fx AS DOUBLE) / n_c + 0.5) AS BIGINT) AS m_fx,
               row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
        FROM cells
    ),
    rec AS (
        SELECT event_type, rn, hour, m_fx,
               CAST(m_fx AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        FROM hourly WHERE rn = 1
        UNION ALL
        SELECT h.event_type, h.rn, h.hour, h.m_fx,
               0.5 * CAST(h.m_fx AS DOUBLE) + 0.5 * (r.l + r.b),
               0.5 * ((0.5 * CAST(h.m_fx AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
                 + 0.5 * r.b
        FROM rec r JOIN hourly h
          ON h.event_type = r.event_type AND h.rn = r.rn + 1
    )
    SELECT event_type, rn, hour,
           CAST(m_fx AS DOUBLE) / 100.0 AS y_mean,
           l / 100.0 AS level,
           b / 100.0 AS trend,
           (l + b) / 100.0 AS forecast_next
    FROM rec
    """,
    doc="Holt double exponential smoothing (level + trend) per event "
    "stream over the hourly-mean series: the classical forecaster one "
    "step above persistence/seasonal-naive when a series actually "
    "drifts — forecast_next = level + trend is the 1-hour-ahead "
    "prediction ts_forecast_backtest-style scorecards can consume. "
    "Exactness: the input series is the same fixed-point 1e-2 hourly "
    "mean as ts_classical_decompose; alpha = gamma = 1/2 makes every "
    "recurrence step a halving (exact in binary floating point), and "
    "both engines evaluate the literally identical IEEE expression "
    "tree in the same sequential order, so level/trend match the "
    "oracle's recursive CTE bit for bit. Plan shape: the corpus "
    "collapses to (type, hour) cells in ONE map-side-combinable "
    "groupBy; the recurrence then runs per-series in an Arrow "
    "applyInPandas over series-length rows (sequential in t by "
    "definition — this is case (b) of the custom-operator ladder: "
    "composition can't express a coupled recurrence), parallel across "
    "series/executors, driver untouched. A year of hours is 8760 "
    "rows per group — bounded state however large the raw corpus.",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    cells = (
        df.select(
            "event_type",
            F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour"),
            v_fx.alias("v_fx"),
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("v_fx").cast("long").alias("s_fx"), F.count(F.lit(1)).alias("n_c"))
    )
    hourly = cells.select(
        "event_type",
        "hour",
        F.floor(F.col("s_fx").cast("double") / F.col("n_c") + F.lit(0.5))
        .cast("long")
        .alias("m_fx"),
    )

    schema = (
        "event_type string, rn long, hour long, y_mean double, "
        "level double, trend double, forecast_next double"
    )

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        m = [int(x) for x in pdf["m_fx"]]
        n = len(m)
        levels, trends = [0.0] * n, [0.0] * n
        l, b = float(m[0]), 0.0
        levels[0], trends[0] = l, b
        for t in range(1, n):
            y = float(m[t])
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
            levels[t], trends[t] = l, b
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "rn": range(1, n + 1),
                "hour": pdf["hour"],
                "y_mean": [float(x) / 100.0 for x in m],
                "level": [x / 100.0 for x in levels],
                "trend": [x / 100.0 for x in trends],
                "forecast_next": [(levels[i] + trends[i]) / 100.0 for i in range(n)],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(holt, schema=schema)


# --- anomaly detection on the DESEASONALIZED series --------------------------
# ts_outlier_mad (metrics.py) flags raw values, which conflates "anomalous"
# with "it is rush hour"; the production pattern is decompose-then-detect:
# remove trend and daily seasonality first, then flag hours whose RESIDUAL
# deviates. Both stages are registered sibling specs — the residual is
# ts_classical_decompose's (the SQL below embeds the registered spec string
# itself), the MAD rule mirrors ts_outlier_mad's normal-consistency
# constant — so none of the three can drift.

_RES_MAD_K = 3.0 * 1.4826  # parity with metrics.ts_outlier_mad's _MAD_K

from exact_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "ts_residual_outliers",
    sql=f"""
    WITH dec AS ({_REGISTRY["ts_classical_decompose"].sql}),
    med AS (
        SELECT event_type, quantile_cont(residual, 0.5) AS med
        FROM dec GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, d.hour, d.residual, m.med,
               ABS(d.residual - m.med) AS adev
        FROM dec d JOIN med m ON m.event_type = d.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n_hours,
           {sql_fround('d.med')} AS median_residual,
           {sql_fround('m.mad')} AS mad_residual,
           CAST(SUM(CASE WHEN d.adev > {_RES_MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outlier_hours
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type, d.med, m.mad
    """,
    doc="Decompose-then-detect anomaly scan: the MAD outlier rule of "
    "ts_outlier_mad applied to ts_classical_decompose's RESIDUAL series "
    "instead of raw values — removing trend and hour-of-day seasonality "
    "first so 'rush hour' stops masquerading as an anomaly and genuinely "
    "deviant hours stand out at 3 normal-consistent MADs. Pure "
    "composition of two registered specs (the oracle embeds the "
    "decompose SQL verbatim; the plan calls the registered operator), "
    "so the detector can never drift from the decomposition it claims "
    "to consume. Exactness: residuals are the decompose spec's "
    "deterministic doubles, medians are exact interpolated percentiles "
    "over identical multisets, and the flag threshold is one double "
    "multiply both engines share. Plan shape: everything downstream of "
    "the decompose cell-groupBy runs on series-length rows (hours, not "
    "events); two percentile passes keyed on the low-cardinality type "
    "with broadcast joins back — the raw corpus is scanned exactly "
    "once, by the decompose stage itself.",
)
def ts_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE lineage over the hourly decompose frame: the previous
    # groupBy + broadcast-join chain re-expanded the whole decomposition
    # (and its canonical-events scans) once per statistic — 4 expansions
    # per query. The median and MAD are the same percentile aggregates
    # computed as windows over the event_type partitioning; both windows
    # and the final groupBy ride a single exchange.
    res = ts_classical_decompose(spark, sf_dir).select("event_type", "hour", "residual")
    we = Window.partitionBy("event_type")
    dev = res.withColumn(
        "med", F.percentile(F.col("residual"), F.lit(0.5)).over(we)
    ).withColumn("adev", F.abs(F.col("residual") - F.col("med")))
    j = dev.withColumn(
        "mad", F.percentile(F.col("adev"), F.lit(0.5)).over(we)
    )
    return (
        j.groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.when(F.col("adev") > _RES_MAD_K * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outlier_hours"),
        )
        .select(
            "event_type",
            "n_hours",
            fround(F.col("med")).alias("median_residual"),
            fround(F.col("mad")).alias("mad_residual"),
            "n_outlier_hours",
        )
    )


# --- split-half rate-shift test ----------------------------------------------
# Count-data inference to ml_ab_welch's value-data inference: did the event
# RATE (events/hour) change between the first and second half of the span?
# Poisson rate comparison with a normal-approximation z (var of n/t is n/t^2)
# — the volume-drift alarm a pipeline runs before blaming a detector for a
# precision change.


@register(
    "ts_rate_shift",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    hrs AS (SELECT event_type, CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour FROM canon),
    bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hrs),
    mid AS (SELECT h0, h1, (h0 + h1 + 1) // 2 AS hm FROM bounds),
    cnt AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN hour < hm THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN hour >= hm THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM hrs CROSS JOIN mid GROUP BY event_type
    )
    SELECT c.event_type,
           (hm - h0) AS hours_a, (h1 - hm + 1) AS hours_b, n_a, n_b,
           CAST(n_a AS DOUBLE) / (hm - h0) AS rate_a,
           CAST(n_b AS DOUBLE) / (h1 - hm + 1) AS rate_b,
           (CAST(n_a AS DOUBLE) / (hm - h0) - CAST(n_b AS DOUBLE) / (h1 - hm + 1))
             / sqrt(CAST(n_a AS DOUBLE) / ((hm - h0) * (hm - h0))
                    + CAST(n_b AS DOUBLE) / ((h1 - hm + 1) * (h1 - hm + 1))) AS z_stat
    FROM cnt c CROSS JOIN mid
    """,
    doc="Split-half event-rate shift test per stream: the span divides at "
    "its midpoint hour, each half's event count becomes a Poisson rate "
    "over its GRID-hour exposure, and the z statistic compares the two "
    "rates under the normal approximation (var(n/t) = n/t^2) — the "
    "count-data companion to ml_ab_welch's value-data t-test, and the "
    "volume-drift alarm to run before blaming a detector for a "
    "precision change. Exactness: half counts and exposures are exact "
    "integers (midpoint = (h0+h1+1) DIV 2 integer arithmetic), so "
    "rates and z are one fixed IEEE tree per row. Plan shape: ONE "
    "map-side-combinable conditional-count groupBy over the hour-"
    "tagged scan with a broadcast 1-row bounds frame on either side — "
    "constant output at any volume.",
)
def ts_rate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    hrs = df.select(
        "event_type", F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour")
    )
    bounds = hrs.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    mid = bounds.select(
        "h0", "h1", F.expr("(h0 + h1 + 1) DIV 2").alias("hm")
    )
    # h0/h1/hm are constant over every row after the broadcast — carry
    # them THROUGH the groupBy instead of crossJoining `mid` a second
    # time (the rejoin re-expanded the bounds lineage: 3 corpus scans,
    # now the inherent 2 — bounds pass + counting pass)
    j = (
        hrs.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "h0", "h1", "hm")
        .agg(
            F.sum(F.when(F.col("hour") < F.col("hm"), 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("hour") >= F.col("hm"), 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    t_a = (F.col("hm") - F.col("h0")).cast("long")
    t_b = (F.col("h1") - F.col("hm") + 1).cast("long")
    rate_a = F.col("n_a").cast("double") / t_a
    rate_b = F.col("n_b").cast("double") / t_b
    z = (rate_a - rate_b) / F.sqrt(
        F.col("n_a").cast("double") / (t_a * t_a)
        + F.col("n_b").cast("double") / (t_b * t_b)
    )
    return j.select(
        "event_type",
        t_a.alias("hours_a"),
        t_b.alias("hours_b"),
        "n_a",
        "n_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z_stat"),
    )


# --- local-maximum peak scan -------------------------------------------------
# Which hours ARE the spikes? ts_anomaly_spans reports flagged episodes and
# ts_residual_outliers counts deviant hours; this returns the local maxima
# themselves: hours strictly above every neighbor within +/-3 grid hours
# (two one-sided RANGE windows — strictness without EXCLUDE CURRENT ROW,
# which Spark lacks), with the hour's excess over its +/-3h window mean.

_PEAK_HALF_WIN = 3


@register(
    "ts_peaks",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    cells AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_fx,
               count(*) AS n_c
        FROM canon GROUP BY event_type, CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT)
    ),
    hourly AS (
        SELECT event_type, hour,
               CAST(FLOOR(CAST(s_fx AS DOUBLE) / n_c + 0.5) AS BIGINT) AS m_fx
        FROM cells
    ),
    win AS (
        SELECT event_type, hour, m_fx,
               MAX(m_fx) OVER (PARTITION BY event_type ORDER BY hour
                               RANGE BETWEEN {_PEAK_HALF_WIN} PRECEDING
                                         AND 1 PRECEDING) AS wl,
               MAX(m_fx) OVER (PARTITION BY event_type ORDER BY hour
                               RANGE BETWEEN 1 FOLLOWING
                                         AND {_PEAK_HALF_WIN} FOLLOWING) AS wr,
               CAST(SUM(m_fx) OVER w AS BIGINT) AS wsum,
               CAST(COUNT(*) OVER w AS BIGINT) AS wcnt
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     RANGE BETWEEN {_PEAK_HALF_WIN} PRECEDING
                               AND {_PEAK_HALF_WIN} FOLLOWING)
    )
    SELECT event_type, hour,
           CAST(m_fx AS DOUBLE) / 100.0 AS y_mean,
           (CAST(wsum AS DOUBLE) / wcnt) / 100.0 AS win_mean,
           (CAST(m_fx AS DOUBLE) - CAST(wsum AS DOUBLE) / wcnt) / 100.0 AS excess
    FROM win
    WHERE wcnt > 1 AND (wl IS NULL OR m_fx > wl) AND (wr IS NULL OR m_fx > wr)
    """,
    doc="Local-maximum peak scan over the hourly-mean series: an hour is a "
    "peak when it is STRICTLY above every neighbor within +/-{w} grid "
    "hours — strictness via two one-sided RANGE windows (max of the "
    "left neighbors, max of the right), because Spark has no EXCLUDE "
    "CURRENT ROW; isolated hours with no neighbor in range are not "
    "peaks (wcnt > 1). Reports each peak's excess over its +/-{w}h "
    "window mean — the ready-to-rank spike list next to "
    "ts_anomaly_spans' episodes and ts_residual_outliers' counts. "
    "Exactness: the comparisons and window sums are all on fixed-point "
    "1e-2 BIGINTs (RANGE frames on the integer hour key, so gap hours "
    "never silently shrink the window); the two output divides are "
    "single IEEE ops. Plan shape: the corpus collapses to (type, hour) "
    "cells in ONE map-side-combinable groupBy; all four windows share "
    "one series-keyed sort over series-length rows.".format(
        w=_PEAK_HALF_WIN
    ),
)
def ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    cells = (
        df.select(
            "event_type",
            F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour"),
            v_fx.alias("v_fx"),
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("v_fx").cast("long").alias("s_fx"), F.count(F.lit(1)).alias("n_c"))
    )
    hourly = cells.select(
        "event_type",
        "hour",
        F.floor(F.col("s_fx").cast("double") / F.col("n_c") + F.lit(0.5))
        .cast("long")
        .alias("m_fx"),
    )
    base = Window.partitionBy("event_type").orderBy("hour")
    wl = base.rangeBetween(-_PEAK_HALF_WIN, -1)
    wr = base.rangeBetween(1, _PEAK_HALF_WIN)
    wc = base.rangeBetween(-_PEAK_HALF_WIN, _PEAK_HALF_WIN)
    win = hourly.select(
        "event_type",
        "hour",
        "m_fx",
        F.max("m_fx").over(wl).alias("wl"),
        F.max("m_fx").over(wr).alias("wr"),
        F.sum("m_fx").over(wc).cast("long").alias("wsum"),
        F.count(F.lit(1)).over(wc).cast("long").alias("wcnt"),
    )
    # A NULL one-sided max means NO neighbor on that side (boundary hour):
    # the comparison is vacuously true. A magnitude sentinel like -1 would
    # silently suppress boundary peaks on series with values <= -0.01.
    peaks = win.filter(
        (F.col("wcnt") > 1)
        & (F.col("wl").isNull() | (F.col("m_fx") > F.col("wl")))
        & (F.col("wr").isNull() | (F.col("m_fx") > F.col("wr")))
    )
    wmean = F.col("wsum").cast("double") / F.col("wcnt")
    return peaks.select(
        "event_type",
        "hour",
        (F.col("m_fx").cast("double") / 100.0).alias("y_mean"),
        (wmean / 100.0).alias("win_mean"),
        ((F.col("m_fx").cast("double") - wmean) / 100.0).alias("excess"),
    )


# --- SAX symbolization (symbolic aggregate approximation) ---------------------

_SAX_ALPHABET = "abcd"  # 4 symbols
_SAX_CARD = len(_SAX_ALPHABET)


@register(
    "ts_sax_symbolize",
    sql=f"""
    WITH canon AS ({{canon}}),
    fx AS (
        SELECT event_type,
               CAST(FLOOR(ts_epoch / 3600.0) AS BIGINT) AS hour_bucket,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_fx
        FROM canon
    ),
    paa AS (
        SELECT event_type, hour_bucket,
               count(*) AS n_events,
               CAST(SUM(value_fx) AS BIGINT) // count(*) AS paa_fx
        FROM fx GROUP BY event_type, hour_bucket
    ),
    bounds AS (
        SELECT event_type, min(paa_fx) AS lo, max(paa_fx) AS hi
        FROM paa GROUP BY event_type
    )
    SELECT p.event_type, p.hour_bucket, p.n_events, p.paa_fx,
           CAST(LEAST({_SAX_CARD - 1},
                (p.paa_fx - b.lo) * {_SAX_CARD} // (b.hi - b.lo + 1)) AS BIGINT)
               AS symbol,
           substr('{_SAX_ALPHABET}',
                CAST(LEAST({_SAX_CARD - 1},
                     (p.paa_fx - b.lo) * {_SAX_CARD} // (b.hi - b.lo + 1)) AS INT) + 1,
                1) AS sym_char
    FROM paa p JOIN bounds b USING (event_type)
    """.format(canon=CANON_SQL),
    doc="SAX symbolization of each event-type value series (Lin et al.'s "
    "Symbolic Aggregate approXimation — the standard discretization "
    "behind time-series motif mining, HOT SAX anomaly discovery, and "
    "symbolic indexing): piecewise-aggregate approximation over hourly "
    "frames, then each frame mean mapped to a {card}-letter alphabet. "
    "Two deliberate Spark-first deviations from the textbook recipe, "
    "both for scale + cross-engine exactness: (1) TIME-aligned PAA "
    "frames (hour buckets) instead of count-based frames — frames "
    "become ONE map-side-combinable groupBy instead of a per-series "
    "row_number, so no single-partition series sort exists at any "
    "history length; (2) min-max equi-width breakpoints in fixed-point "
    "INTEGER space instead of Gaussian z-breakpoints — the frame mean "
    "(integer floor-div of the exact fixed-point sum), the per-series "
    "bounds, and the symbol assignment ((paa-lo)*{card} DIV (hi-lo+1), "
    "clamped) are all integer arithmetic, bit-identical in both "
    "engines, where a z-normalized mean/std would hit order-dependent "
    "double summation. Plan shape: two map-side-combinable groupBys "
    "(frame census, per-series bounds) + one broadcast join of the "
    "tiny per-series bounds dim back onto the frames.".format(
        card=_SAX_CARD
    ),
)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    fx = df.select(
        "event_type",
        F.floor(F.col("ts_epoch") / 3600.0).cast("long").alias("hour_bucket"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_fx"),
    )
    paa = fx.groupBy("event_type", "hour_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("sum(value_fx) DIV count(*)").alias("paa_fx"),
    )
    bounds = paa.groupBy("event_type").agg(
        F.min("paa_fx").alias("lo"), F.max("paa_fx").alias("hi")
    )
    j = paa.join(F.broadcast(bounds), "event_type")
    sym = F.least(
        F.lit(_SAX_CARD - 1).cast("long"),
        F.expr(f"(paa_fx - lo) * {_SAX_CARD} DIV (hi - lo + 1)"),
    ).cast("long")
    chars = F.array(*[F.lit(c) for c in _SAX_ALPHABET])
    return j.select(
        "event_type",
        "hour_bucket",
        "n_events",
        "paa_fx",
        sym.alias("symbol"),
        F.element_at(chars, sym.cast("int") + 1).alias("sym_char"),
    )
