"""Anomaly injection operators (SURVEY.md §2.3: A1-A10).

Reference: Backend/Simulator/AnomalyInjector/anomalyinjector.py (driver,
seeded ``np.random.default_rng(42)`` at anomalyinjector.py:20-21) and
Backend/Simulator/InjectionMethods/{spike,step,lowered,offline,custom}.py.

Determinism under parallelism (SURVEY §7.4): the reference's rng semantics
depend on pandas row order. We re-express them so results are stable under
any partitioning:

- scalar random draws (the per-call factors of spike/lowered) are made on
  the driver with the same seeded generator and broadcast as literals;
- the percentage subsample (A3, anomalyinjector.py:133-142) ranks rows by
  ``md5(seed || id)`` — a deterministic pseudorandom order identical in any
  engine — and keeps the first ``floor(n * pct/100)``.

A setting selects rows by ``id`` and timestamp only (A1 span + A3 rank).
Both are protected columns no setting changes, so every setting's selection
is computed in one pass over the input; the value updates (A4-A9) and the
step/lowered stats (A10) stay sequential, each setting reading the values
the settings before it left.

Batch and stream share one per-setting transform (``_inject_settings``:
seeded draw, A4-A8 value, A9 flags; ``inject_methods`` reuses the draw and
value). They differ only in selection: a stream cannot take A3's global
rank, so it keeps a span row by its md5 bucket, and takes step/lowered
stats from setting overrides only.

Injected rows get ``injected_anomaly=1, label=1`` (A9,
anomalyinjector.py:163-167).

Note ``offline`` raises TypeError in the reference (offline.py:1-4 called
with a data arg at anomalyinjector.py:206-209); we implement the evident
intent (constant 0).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from exact_spark.functions import epoch_seconds_any, favg, sql_favg
from exact_spark.operators.timeseries import CANON_SQL, canonical_events
from exact_spark.registry import register

PROTECTED_COLS = {"timestamp", "id", "label", "is_anomaly", "injected_anomaly"}


@dataclass
class AnomalySetting:
    """Job-spec injection setting (DBAPI/type_classes.py:12-23)."""

    anomaly_type: str  # spike | step | lowered | offline | custom
    timestamp: float  # offset seconds from job start (batchimport.py:288-346)
    duration: float  # seconds
    magnitude: float = 1.0
    percentage: float = 100.0
    columns: list[str] | None = None
    mean: float | None = None  # setting-level stat overrides (A10)
    data_range: float | None = None


def resolve_target_columns(df: DataFrame, setting: AnomalySetting) -> list[str]:
    """A2 (anomalyinjector.py:112-128): explicit list filtered to existing
    numeric columns, else all numeric minus protected."""
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.LongType, T.IntegerType))
        and f.name not in PROTECTED_COLS
    }
    if setting.columns:
        return [c for c in setting.columns if c in numeric]
    return sorted(numeric)


def _draw(rng: np.random.Generator, kind: str, magnitude: float) -> float | None:
    """A setting's scalar seeded draw, one per call like anomalyinjector:
    spike U(1, magnitude) (spike.py:7-9), lowered U(0.3, 0.4)
    (lowered.py:9-22); the other methods draw nothing."""
    if kind == "spike":
        return float(rng.uniform(1.0, magnitude))
    if kind == "lowered":
        return float(rng.uniform(0.3, 0.4))
    return None


def _injected_value(kind: str, x: Column, factor, magnitude, mean, spread) -> Column:
    """A4-A8 value of column ``x``; the A10 ``mean``/``spread`` are floats or Columns."""
    if kind == "spike":  # A4
        return x * factor
    if kind == "step":  # A5
        return x + mean * magnitude
    if kind == "lowered":  # A6: max(x - spread*factor, 0), zeros -> x*factor
        low = F.greatest(x - spread * factor, F.lit(0.0))
        return F.when(low == 0.0, x * factor).otherwise(low)
    if kind == "offline":  # A7 (evident intent)
        return F.lit(0.0)
    if kind == "custom":  # A8
        return x * magnitude
    raise KeyError(f"unknown anomaly_type {kind!r}")


def _in_span(ts_epoch: Column, s: AnomalySetting, start_epoch: float) -> Column:  # A1
    t0 = start_epoch + s.timestamp
    return (ts_epoch >= F.lit(t0)) & (ts_epoch < F.lit(t0 + s.duration))


def _active(df: DataFrame, settings: list[AnomalySetting]) -> list:
    """(index, setting, target columns) of each setting with a target column;
    one without is skipped (no flags, no draw) and the indexes stay."""
    return [(i, s, c) for i, s in enumerate(settings) if (c := resolve_target_columns(df, s))]


def _inject_settings(out: DataFrame, active: list, seed: int, selected, with_stats: bool):
    """A4-A10 of each active setting in order, over the values the settings
    before it left, scalar draws from one seeded generator in setting order
    (the reference's per-injector ``default_rng(seed)``). ``selected(i, s)``
    is a setting's row selection. Step/lowered stats are the setting's
    overrides, else (``with_stats``) an eager aggregate over its selected
    rows; a zero or missing range spreads by the mean (lowered.py:9-22)."""
    rng = np.random.default_rng(seed)
    for i, s, cols in active:
        sel = selected(i, s)
        stats = {}
        if with_stats and s.anomaly_type in ("step", "lowered") and (
            s.mean is None or s.data_range is None
        ):
            aggs = []
            for c in cols:
                v = F.when(sel, F.col(c))
                aggs += [favg(v).alias(f"mean_{c}"), (F.max(v) - F.min(v)).alias(f"range_{c}")]
            stats = out.agg(*aggs).collect()[0].asDict()

        factor = _draw(rng, s.anomaly_type, s.magnitude)
        updates = {}
        for c in cols:
            mean = s.mean if s.mean is not None else stats.get(f"mean_{c}")
            spread = s.data_range if s.data_range is not None else stats.get(f"range_{c}")
            if not spread:
                spread = s.mean if s.mean is not None else 0.0
            new = _injected_value(s.anomaly_type, F.col(c), factor, s.magnitude,
                                  float(mean or 0.0), float(spread))
            updates[c] = F.when(sel, new).otherwise(F.col(c))
        updates["injected_anomaly"] = F.col("injected_anomaly") | sel  # A9
        updates["label"] = F.when(sel, F.lit(1)).otherwise(F.col("label"))
        # one projection per setting, not one composed expression: lowered
        # reads its column four times, so composing n settings on a column
        # would grow the expression as 4^n
        out = out.select(*[updates[n].alias(n) if n in updates else n for n in out.columns])
    # batchimport.py:383-388: is_anomaly |= injected_anomaly
    if "is_anomaly" in out.columns:
        out = out.withColumn("is_anomaly", F.col("is_anomaly") | F.col("injected_anomaly"))
    return out


def inject_anomalies(
    df: DataFrame,
    settings: list[AnomalySetting],
    start_epoch: float,
    seed: int = 42,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Generalized A1-A10 transform: applies each setting in order
    (batchimport.py:147-169), flags affected rows (A9).

    ``df`` must carry ``id`` and a timestamp column. A setting selects rows
    by those two alone (A1 span, A3 md5 rank); both are protected, so no
    setting's updates change what a later one selects, and every setting's
    selection comes from ONE pass over ``df``, joined back once: one join
    and two scans of ``df`` however many settings there are.
    """
    ts_epoch = epoch_seconds_any(df, ts_col)
    active = _active(df, settings)
    out = df
    if active:
        hits = []
        for i, s, _ in active:
            hit = F.struct(F.lit(i).alias("i"), F.lit(f"{seed}:{i}:").alias("prefix"),
                           F.lit(float(s.percentage)).alias("pct"))
            hits.append(F.when(_in_span(ts_epoch, s, start_epoch), hit))
        # A3: one row per (row, setting whose span holds it), ranked by md5
        # within its setting; a setting keeps its first floor(n * pct/100)
        hits = F.filter(F.array(*hits), lambda h: h.isNotNull())
        span = df.select("id", F.explode(hits).alias("h"))
        by_setting = Window.partitionBy("h.i")
        selected = (
            span.withColumn("rk", F.md5(F.concat("h.prefix", F.col("id").cast("string"))))
            .withColumn("rn", F.row_number().over(by_setting.orderBy("rk", "id")))
            .withColumn("cnt", F.count(F.lit(1)).over(by_setting))
            .filter(F.col("rn") <= F.floor(F.col("cnt") * F.col("h.pct") / 100.0))
            .groupBy(F.col("id").alias("__sel_id"))
            .agg(F.collect_set("h.i").alias("__sel"))
        )
        out = df.join(F.broadcast(selected), df.id == F.col("__sel_id"), "left")

    def sel(i: int, s: AnomalySetting) -> Column:
        return F.coalesce(F.array_contains("__sel", i), F.lit(False))

    return _inject_settings(out, active, seed, sel, with_stats=True).drop("__sel_id", "__sel")


def streaming_injection(
    df: DataFrame,
    settings: list[AnomalySetting],
    start_epoch: float,
    seed: int = 42,
    ts_col: str = "timestamp",
) -> DataFrame:
    """T2: ``inject_anomalies``' per-setting transform as row-local
    expressions for a stream. A span row is selected when
    ``md5(seed:i:id) mod 100 < pct``: independent of partitioning and
    arrival order, equal to the batch rank at 100%. Step/lowered take the
    setting's ``mean``/``data_range`` overrides only (the reference's
    stream path pre-computes them from the file: simulator.py:173-183)."""
    ts_epoch = epoch_seconds_any(df, ts_col)

    def sel(i: int, s: AnomalySetting) -> Column:
        rk = F.md5(F.concat(F.lit(f"{seed}:{i}:"), F.col("id").cast("string")))
        bucket = F.conv(F.substring(rk, 1, 8), 16, 10).cast("long") % 100
        return _in_span(ts_epoch, s, start_epoch) & (bucket < F.lit(int(s.percentage)))

    return _inject_settings(df, _active(df, settings), seed, sel, with_stats=False)


# --- seeded scalar draws (mirrors anomalyinjector.py:20-21) -----------------
_rng = np.random.default_rng(42)
SPIKE_MAGNITUDE = 3.0
SPIKE_FACTOR = _draw(_rng, "spike", SPIKE_MAGNITUDE)
LOWERED_FACTOR = _draw(_rng, "lowered", 1.0)
STEP_MAGNITUDE = 2.0  # step.py:7-9
CUSTOM_MAGNITUDE = 2.5  # custom.py:6-9

# Injection span (A1): [2024-01-10, 2024-01-12) UTC.
SPAN_T0 = 1704844800.0
SPAN_T1 = 1705017600.0
PCT = 60.0  # A3 percentage subsample

_SPAN_SQL = f"""
    WITH canon AS ({CANON_SQL}),
    span AS (
        SELECT id, ts_epoch, value, label,
               md5('s42:' || CAST(id AS VARCHAR)) AS rk
        FROM canon
        WHERE ts_epoch >= {SPAN_T0!r} AND ts_epoch < {SPAN_T1!r}
    ),
    nsel AS (SELECT CAST(FLOOR(count(*) * {PCT!r} / 100.0) AS BIGINT) AS k FROM span),
    sel AS (
        SELECT s.id, s.ts_epoch, s.value, s.label,
               CASE WHEN row_number() OVER (ORDER BY s.rk, s.id) <= n.k
                    THEN 1 ELSE 0 END AS selected
        FROM span s, nsel n
    )
"""


def _span_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 span filter + A3 deterministic percentage subsample.

    The span read is partition-pruned (``canonical_events_range``): an
    injection span covers days, so at scale only those date dirs are
    listed — not the whole canonical table."""
    from exact_spark.operators.timeseries import canonical_events_range

    span = canonical_events_range(spark, sf_dir, SPAN_T0, SPAN_T1).select(
        "id",
        "ts_epoch",
        "value",
        "label",
        F.md5(F.concat(F.lit("s42:"), F.col("id").cast("string"))).alias("rk"),
    )
    k = span.agg(F.floor(F.count(F.lit(1)) * PCT / 100.0).alias("k"))
    w = Window.orderBy("rk", "id")
    return (
        span.crossJoin(F.broadcast(k))
        .withColumn(
            "selected",
            F.when(F.row_number().over(w) <= F.col("k"), F.lit(1)).otherwise(F.lit(0)),
        )
        .drop("rk", "k")
    )


# The five injection methods' value transforms, keyed by method name.
# SQL side mirrors InjectionMethods/{spike,step,lowered,offline,custom}.py.
_METHOD_SQL = {
    "spike": f"value * {SPIKE_FACTOR!r}",
    "step": f"value + stats.mean_sel * {STEP_MAGNITUDE!r}",
    "lowered": f"""CASE WHEN GREATEST(value - stats.rng_sel * {LOWERED_FACTOR!r}, 0.0) = 0.0
                 THEN value * {LOWERED_FACTOR!r}
                 ELSE GREATEST(value - stats.rng_sel * {LOWERED_FACTOR!r}, 0.0) END""",
    "offline": "0.0",
    "custom": f"value * {CUSTOM_MAGNITUDE!r}",
}

_METHODS_UNION = "\nUNION ALL\n".join(
    f"""SELECT '{m}' AS method, id,
           CASE WHEN selected = 1 THEN {expr} ELSE value END AS value_out,
           CASE WHEN selected = 1 THEN 1 ELSE 0 END AS injected_anomaly,
           CASE WHEN selected = 1 THEN 1 ELSE label END AS label
    FROM sel, stats"""
    for m, expr in _METHOD_SQL.items()
)


@register(
    "inject_methods",
    sql=f"""
    {_SPAN_SQL}
    , stats AS (SELECT {sql_favg('value')} AS mean_sel,
                       max(value) - min(value) AS rng_sel
                FROM sel WHERE selected = 1)
    {_METHODS_UNION}
    """,
    doc="A4-A8 in one scan: spike (x * U(1,magnitude), seeded scalar, "
    "spike.py:7-9), step (x + mean*magnitude, step.py:7-9 with the stats "
    "pre-pass anomalyinjector.py:149-154), lowered (max(x - range*U(.3,.4), "
    "0), zeros -> x*factor, lowered.py:9-22), offline (constant 0 — the "
    "evident intent; the reference raises TypeError as shipped, "
    "offline.py:1-4), custom (x * magnitude, custom.py:6-9). Shared span "
    "A1 + 60% subsample A3 + flag propagation A9 + selected-row stats A10; "
    "one row per (method, id) via an exploded struct array — the span is "
    "scanned once for all five methods, not five times.",
)
def inject_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _span_selected(spark, sf_dir)
    # A10 selected-row stats as FULL-FRAME window aggregates riding the
    # span pass (which already carries the global subsample-rank window)
    # instead of a filter+aggregate branch: the stats branch re-expanded
    # the whole span lineage (4 partition-pruned span scans -> 2). The
    # conditional window sums reproduce favg's fixed-point integers
    # exactly (same sum(fixed)/count arithmetic, order-independent).
    from exact_spark.functions import SCALE6, fixed

    sel = F.col("selected") == 1
    wall = Window.partitionBy()
    df = df.withColumn(
        "mean_sel",
        F.sum(F.when(sel, fixed(F.col("value")))).over(wall)
        / (F.lit(float(SCALE6)) * F.count(F.when(sel, F.col("value"))).over(wall)),
    ).withColumn(
        "rng_sel",
        F.max(F.when(sel, F.col("value"))).over(wall)
        - F.min(F.when(sel, F.col("value"))).over(wall),
    )
    factor = {"spike": SPIKE_FACTOR, "lowered": LOWERED_FACTOR}
    magnitude = {"step": STEP_MAGNITUDE, "custom": CUSTOM_MAGNITUDE}
    x = F.col("value")
    branches = {
        m: _injected_value(m, x, factor.get(m), magnitude.get(m),
                           F.col("mean_sel"), F.col("rng_sel"))
        for m in _METHOD_SQL
    }
    mv = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("method"), v.cast("double").alias("v"))
                for m, v in branches.items()
            ]
        )
    ).alias("mv")
    return df.select("id", "value", "label", "selected", mv).select(
        "id",
        F.col("mv.method").alias("method"),
        F.when(sel, F.col("mv.v")).otherwise(x).alias("value_out"),
        F.when(sel, F.lit(1)).otherwise(F.lit(0)).alias("injected_anomaly"),
        F.when(sel, F.lit(1)).otherwise(F.col("label")).alias("label"),
    )
