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

Injected rows get ``injected_anomaly=1, label=1`` (A9,
anomalyinjector.py:163-167).

Note ``offline`` raises TypeError in the reference (offline.py:1-4 called
with a data arg at anomalyinjector.py:206-209); we implement the evident
intent (constant 0).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
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
    and two scans of ``df`` however many settings there are. The value
    updates (A4-A9) stay sequential, one projection per setting over the
    values the settings before it left, and so do the eager A10 stats of
    step/lowered. Scalar draws come from one seeded generator, in setting
    order, like the reference's per-injector ``default_rng(seed)``.
    """
    rng = np.random.default_rng(seed)
    ts_epoch = epoch_seconds_any(df, ts_col)
    # (enumerate index, setting, target columns); a skipped setting keeps its index
    active = [(i, s, c) for i, s in enumerate(settings) if (c := resolve_target_columns(df, s))]
    out = df
    if active:
        hits = []
        for i, s, _ in active:
            t0 = start_epoch + s.timestamp
            in_span = (ts_epoch >= F.lit(t0)) & (ts_epoch < F.lit(t0 + s.duration))  # A1
            hit = F.struct(F.lit(i).alias("i"), F.lit(f"{seed}:{i}:").alias("prefix"),
                           F.lit(float(s.percentage)).alias("pct"))
            hits.append(F.when(in_span, hit))
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

    for i, s, cols in active:
        sel = F.coalesce(F.array_contains("__sel", i), F.lit(False))
        # A10: per-column stats over selected rows (or setting overrides),
        # over the values the earlier settings left
        stats_row = None
        if s.anomaly_type in ("step", "lowered") and (s.mean is None or s.data_range is None):
            aggs = []
            for c in cols:
                v = F.when(sel, F.col(c))
                aggs += [favg(v).alias(f"mean_{c}"), (F.max(v) - F.min(v)).alias(f"range_{c}")]
            stats_row = out.agg(*aggs).collect()[0]

        # scalar seeded draws (one per call, like anomalyinjector)
        if s.anomaly_type == "spike":
            factor = float(rng.uniform(1.0, s.magnitude))
        elif s.anomaly_type == "lowered":
            factor = float(rng.uniform(0.3, 0.4))
        else:
            factor = None

        updates = {}
        for c in cols:
            x = F.col(c)
            if s.anomaly_type == "spike":  # A4
                new = x * F.lit(factor)
            elif s.anomaly_type == "step":  # A5
                mean = s.mean if s.mean is not None else stats_row[f"mean_{c}"]
                new = x + F.lit(float(mean or 0.0) * s.magnitude)
            elif s.anomaly_type == "lowered":  # A6
                drange = s.data_range if s.data_range is not None else stats_row[f"range_{c}"]
                if drange is None or drange == 0:
                    # lowered.py:9-22 zero-range fallback: the same shape,
                    # substituting mean for range
                    drange = s.mean if s.mean is not None else 0.0
                low = F.greatest(x - F.lit(float(drange) * factor), F.lit(0.0))
                new = F.when(low == 0.0, x * F.lit(factor)).otherwise(low)
            elif s.anomaly_type == "offline":  # A7 (evident intent)
                new = F.lit(0.0)
            elif s.anomaly_type == "custom":  # A8
                new = x * F.lit(s.magnitude)
            else:
                raise KeyError(f"unknown anomaly_type {s.anomaly_type!r}")
            updates[c] = F.when(sel, new).otherwise(x)

        updates["injected_anomaly"] = F.col("injected_anomaly") | sel  # A9
        updates["label"] = F.when(sel, F.lit(1)).otherwise(F.col("label"))
        # one projection per setting, not one composed expression: lowered
        # reads its column four times, so composing n settings on a column
        # would grow the expression as 4^n
        out = out.select(*[updates[n].alias(n) if n in updates else n for n in out.columns])

    out = out.drop("__sel_id", "__sel")
    # batchimport.py:383-388: is_anomaly |= injected_anomaly
    if "is_anomaly" in out.columns:
        out = out.withColumn("is_anomaly", F.col("is_anomaly") | F.col("injected_anomaly"))
    return out

# --- seeded scalar draws (mirrors anomalyinjector.py:20-21) -----------------
_rng = np.random.default_rng(42)
SPIKE_MAGNITUDE = 3.0
SPIKE_FACTOR = float(_rng.uniform(1.0, SPIKE_MAGNITUDE))  # spike.py:7-9
LOWERED_FACTOR = float(_rng.uniform(0.3, 0.4))  # lowered.py:9-22
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

    _sel = F.col("selected") == 1
    wall = Window.partitionBy()
    df = df.withColumn(
        "mean_sel",
        F.sum(F.when(_sel, fixed(F.col("value")))).over(wall)
        / (F.lit(float(SCALE6)) * F.count(F.when(_sel, F.col("value"))).over(wall)),
    ).withColumn(
        "rng_sel",
        F.max(F.when(_sel, F.col("value"))).over(wall)
        - F.min(F.when(_sel, F.col("value"))).over(wall),
    )
    x = F.col("value")
    low = F.greatest(x - F.col("rng_sel") * F.lit(LOWERED_FACTOR), F.lit(0.0))
    branches = {
        "spike": x * F.lit(SPIKE_FACTOR),
        "step": x + F.col("mean_sel") * F.lit(STEP_MAGNITUDE),
        "lowered": F.when(low == 0.0, x * F.lit(LOWERED_FACTOR)).otherwise(low),
        "offline": F.lit(0.0),
        "custom": x * F.lit(CUSTOM_MAGNITUDE),
    }
    sel = F.col("selected") == 1
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
