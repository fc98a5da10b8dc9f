"""Evaluation aggregates (SURVEY.md §2.4: G1, G2, G5, G8).

The reference computes confusion counts with four boolean-mask passes
(Backend/execute_calls.py:354-381) and derived metrics rounded to 4dp
(execute_calls.py:811-839). Here it is one distributed aggregate pass,
written once: ``confusion_sums`` (G1) and ``classification_metrics`` (G2)
are the kernel every Spark-side evaluation calls, the batch and stream
jobs, cross-validation and parameter search included.

The "model" used for the oracle-checkable evaluation queries is the
reference's statistical detector shape: flag a row anomalous when its value
exceeds the P95 threshold (lstm.py:156 uses P95 of reconstruction error;
the thresholding semantics are identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from exact_spark import io
from exact_spark.functions import fround, sql_fround
from exact_spark.operators.timeseries import CANON_SQL, canonical_events
from exact_spark.registry import register

_P = 0.95

# the (predicted, actual) pair each G1 cell counts
_CELLS = {"tp": (1, 1), "tn": (0, 0), "fp": (1, 0), "fn": (0, 1)}


def confusion_sums(
    predicted: Column | str,
    actual: Column | str,
    where: Column | None = None,
    weight: Column | None = None,
) -> dict[str, Column]:
    """G1: the four confusion cells as aggregate columns, keyed
    ``tp``/``tn``/``fp``/``fn`` in that order and not aliased.

    A row adds ``weight`` (default 1) to the cell its 0/1 ``(predicted,
    actual)`` pair names, over the rows ``where`` holds. A row whose pair
    or ``where`` is null counts in no cell, as the oracle's ``CASE WHEN
    ... THEN 1 ELSE 0 END`` does; a cell over no rows at all is NULL.
    """
    p = F.col(predicted) if isinstance(predicted, str) else predicted
    a = F.col(actual) if isinstance(actual, str) else actual
    one = F.lit(1) if weight is None else weight
    sums = {}
    for name, (pv, av) in _CELLS.items():
        hit = (p == pv) & (a == av)
        if where is not None:
            hit = hit & where
        sums[name] = F.sum(F.when(hit, one).otherwise(0))
    return sums


def classification_metrics(tp: int | None, tn: int | None, fp: int | None, fn: int | None) -> dict:
    """G2 (execute_calls.py:811-839) from the confusion counts: the counts
    (a NULL sum over no rows read as 0) and the derived metrics rounded to
    4dp, each 0.0 where its denominator is 0."""
    tp, tn, fp, fn = (c or 0 for c in (tp, tn, fp, fn))
    total = tp + tn + fp + fn
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return {
        "tp": tp,
        "tn": tn,
        "fp": fp,
        "fn": fn,
        "accuracy": round((tp + tn) / total, 4) if total else 0.0,
        "precision": round(prec, 4),
        "recall": round(rec, 4),
        "f1_score": round(2 * prec * rec / (prec + rec), 4) if prec + rec else 0.0,
        "specificity": round(tn / (tn + fp), 4) if tn + fp else 0.0,
    }


def evaluate_classification(
    df: DataFrame, *slices: Column, actual: str = "label", predicted: str = "predicted"
) -> list[dict]:
    """G1+G2 (execute_calls.py:354-381,811-839) over all rows, then over
    the rows each of ``slices`` holds: one metrics dict each, from one
    aggregate pass."""
    row = df.agg(
        *(
            c
            for where in (None, *slices)
            for c in confusion_sums(predicted, actual, where).values()
        )
    ).collect()[0]
    return [classification_metrics(*row[i : i + 4]) for i in range(0, len(row), 4)]


@register(
    "g5_percentile_threshold",
    sql=f"""
    SELECT event_type,
           {sql_fround('quantile_cont(value, 0.95)')} AS p95_value,
           count(*) AS n_rows
    FROM ({CANON_SQL})
    GROUP BY event_type
    """,
    doc="G5: exact interpolated percentile threshold per group "
    "(lstm.py:156, svm.py:149-151).",
)
def g5_percentile_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    return df.groupBy("event_type").agg(
        fround(F.percentile(F.col("value"), F.lit(_P))).alias("p95_value"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# Confusion matrix: predicted = value > global P95; actual = label.
_CONFUSION_BASE = f"""
    WITH canon AS ({CANON_SQL}),
    thr AS (SELECT quantile_cont(value, 0.95) AS t FROM canon),
    scored AS (
        SELECT c.label AS actual,
               CASE WHEN c.value > thr.t THEN 1 ELSE 0 END AS predicted
        FROM canon c, thr
    ),
    cm AS (
        SELECT SUM(CASE WHEN predicted = 1 AND actual = 1 THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN predicted = 0 AND actual = 0 THEN 1 ELSE 0 END) AS tn,
               SUM(CASE WHEN predicted = 1 AND actual = 0 THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN predicted = 0 AND actual = 1 THEN 1 ELSE 0 END) AS fn
        FROM scored
    )
"""


def _p95_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_CONFUSION_BASE``'s ``cm``: the one-row G1 counts of the
    ``scored`` frame, actual = label and predicted = value > global P95."""
    df = canonical_events(spark, sf_dir)
    thr = df.agg(F.percentile(F.col("value"), F.lit(_P)).alias("t"))
    scored = df.crossJoin(F.broadcast(thr)).select(
        F.col("label").alias("actual"),
        F.when(F.col("value") > F.col("t"), F.lit(1)).otherwise(F.lit(0)).alias("predicted"),
    )
    return scored.agg(
        *(c.alias(k) for k, c in confusion_sums("predicted", "actual").items())
    )


_SQL_M4 = "{expr}"  # metrics rounded to 4dp with the floor formula


def _sql_metric(expr: str) -> str:
    return sql_fround(expr, 10_000)


@register(
    "g1_confusion_metrics",
    sql=f"""
    {_CONFUSION_BASE}
    SELECT CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           {_sql_metric('(tp + tn) * 1.0 / (tp + tn + fp + fn)')} AS accuracy,
           {_sql_metric('CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END')} AS precision_,
           {_sql_metric('CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END')} AS recall_,
           {_sql_metric('CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tp = 0 THEN 0.0 ELSE 2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn)) / (tp * 1.0 / (tp + fp) + tp * 1.0 / (tp + fn)) END')} AS f1_score,
           {_sql_metric('CASE WHEN tn + fp = 0 THEN 0.0 ELSE tn * 1.0 / (tn + fp) END')} AS specificity
    FROM cm
    """,
    doc="G1+G2: confusion counts + derived metrics in one aggregate pass "
    "(execute_calls.py:354-381,811-839), P95-threshold detector.",
)
def g1_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cm = _p95_confusion(spark, sf_dir)
    tp, tn, fp, fn = (F.col(c) for c in _CELLS)
    prec = tp * 1.0 / (tp + fp)
    rec = tp * 1.0 / (tp + fn)

    def m4(col):
        return fround(col, 10_000)

    return cm.select(
        *_CELLS,
        m4((tp + tn) * 1.0 / (tp + tn + fp + fn)).alias("accuracy"),
        m4(F.when(tp + fp == 0, F.lit(0.0)).otherwise(prec)).alias("precision_"),
        m4(F.when(tp + fn == 0, F.lit(0.0)).otherwise(rec)).alias("recall_"),
        m4(
            F.when((tp + fp == 0) | (tp + fn == 0) | (tp == 0), F.lit(0.0)).otherwise(
                2.0 * prec * rec / (prec + rec)
            )
        ).alias("f1_score"),
        m4(F.when(tn + fp == 0, F.lit(0.0)).otherwise(tn * 1.0 / (tn + fp))).alias("specificity"),
    )


@register(
    "ml_mcc",
    sql=f"""
    {_CONFUSION_BASE}
    SELECT CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           CASE WHEN (tp + fp) * (tp + fn) = 0 OR (tn + fp) * (tn + fn) = 0
                THEN 0.0
                ELSE CAST(tp * tn - fp * fn AS DOUBLE)
                     / SQRT(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                            * CAST((tn + fp) * (tn + fn) AS DOUBLE))
           END AS mcc
    FROM cm
    """,
    doc="Matthews correlation coefficient of the P95-threshold detector — "
    "the single-number confusion summary robust to class imbalance (the "
    "reference's metric block, execute_calls.py:811-839, stops at F1; MCC "
    "is the standard completion). Same one-pass conditional aggregate as "
    "G1; the numerator tp*tn-fp*fn stays an exact BIGINT, the denominator "
    "multiplies two exact pairwise BIGINT products as doubles before ONE "
    "sqrt, so both engines execute the identical float op sequence. Scale: "
    "one scan, one 4-cell reduce — nothing grows with data volume.",
)
def ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cm = _p95_confusion(spark, sf_dir)
    tp, tn, fp, fn = (F.col(c) for c in _CELLS)
    den = F.sqrt(
        ((tp + fp) * (tp + fn)).cast("double") * ((tn + fp) * (tn + fn)).cast("double")
    )
    mcc = F.when(
        ((tp + fp) * (tp + fn) == 0) | ((tn + fp) * (tn + fn) == 0), F.lit(0.0)
    ).otherwise((tp * tn - fp * fn).cast("double") / den)
    return cm.select("tp", "tn", "fp", "fn", mcc.alias("mcc"))


_NDCG_TERM_SCALE = 1_000_000_000_000  # fixed-point for the tiny dcg sums


@register(
    "g6_ndcg",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    ranked AS (
        SELECT event_type,
               row_number() OVER (ORDER BY SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) DESC, event_type) AS rnk,
               CASE WHEN event_type IN ('error', 'purchase') THEN 1 ELSE 0 END AS rel
        FROM canon GROUP BY event_type
    ),
    relranked AS (
        SELECT rel, rnk,
               CASE WHEN rel = 1 THEN row_number() OVER (PARTITION BY rel ORDER BY rnk) END AS relrank
        FROM ranked
    ),
    sums AS (
        SELECT
            SUM(CASE WHEN rnk <= 3 THEN CAST(FLOOR(rel / log2(rnk + 1.0) * {_NDCG_TERM_SCALE}.0 + 0.5) AS BIGINT) ELSE 0 END) AS dcg3,
            SUM(CASE WHEN rnk <= 5 THEN CAST(FLOOR(rel / log2(rnk + 1.0) * {_NDCG_TERM_SCALE}.0 + 0.5) AS BIGINT) ELSE 0 END) AS dcg5,
            SUM(CASE WHEN relrank <= 3 THEN CAST(FLOOR(1.0 / log2(relrank + 1.0) * {_NDCG_TERM_SCALE}.0 + 0.5) AS BIGINT) ELSE 0 END) AS idcg3,
            SUM(CASE WHEN relrank <= 5 THEN CAST(FLOOR(1.0 / log2(relrank + 1.0) * {_NDCG_TERM_SCALE}.0 + 0.5) AS BIGINT) ELSE 0 END) AS idcg5
        FROM relranked
    )
    SELECT {sql_fround('(dcg3 * 1.0) / (idcg3 * 1.0)', 10000)} AS ndcg_at_3,
           {sql_fround('(dcg5 * 1.0) / (idcg5 * 1.0)', 10000)} AS ndcg_at_5
    FROM sums
    """,
    doc="G6: NDCG@k (utils.py:284-342) — rank event types by mean value, "
    "relevance = {{error,purchase}}; DCG terms rel/log2(rank+1), fixed-point "
    "summed for cross-engine exactness.",
)
def g6_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from exact_spark.functions import fixed

    df = canonical_events(spark, sf_dir)
    grouped = df.groupBy("event_type").agg(F.sum(fixed(F.col("value"))).alias("sum_fx"))
    ranked = grouped.select(
        "event_type",
        F.row_number()
        .over(Window.orderBy(F.col("sum_fx").desc(), F.col("event_type")))
        .alias("rnk"),
        F.when(F.col("event_type").isin("error", "purchase"), 1).otherwise(0).alias("rel"),
    )
    relranked = ranked.withColumn(
        "relrank",
        F.when(
            F.col("rel") == 1,
            F.row_number().over(Window.partitionBy("rel").orderBy("rnk")),
        ),
    )
    sc = float(_NDCG_TERM_SCALE)

    def term(expr):
        return F.floor(expr * F.lit(sc) + F.lit(0.5)).cast("long")

    sums = relranked.agg(
        F.sum(F.when(F.col("rnk") <= 3, term(F.col("rel") / F.log2(F.col("rnk") + 1.0))).otherwise(F.lit(0))).alias("dcg3"),
        F.sum(F.when(F.col("rnk") <= 5, term(F.col("rel") / F.log2(F.col("rnk") + 1.0))).otherwise(F.lit(0))).alias("dcg5"),
        F.sum(F.when(F.col("relrank") <= 3, term(F.lit(1.0) / F.log2(F.col("relrank") + 1.0))).otherwise(F.lit(0))).alias("idcg3"),
        F.sum(F.when(F.col("relrank") <= 5, term(F.lit(1.0) / F.log2(F.col("relrank") + 1.0))).otherwise(F.lit(0))).alias("idcg5"),
    )
    return sums.select(
        fround((F.col("dcg3") * 1.0) / (F.col("idcg3") * 1.0), 10_000).alias("ndcg_at_3"),
        fround((F.col("dcg5") * 1.0) / (F.col("idcg5") * 1.0), 10_000).alias("ndcg_at_5"),
    )


@register(
    "g8_class_counts",
    sql="""
    WITH counts AS (
        SELECT SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS n_pos,
               SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS n_neg
        FROM embeddings
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST(FLOOR((n_neg * 1.0 / n_pos) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS scale_pos_weight
    FROM counts
    """,
    doc="G8: class counts + scale_pos_weight = n_neg/n_pos "
    "(XGBoost.py:327-337) — imbalance weighting input.",
)
def g8_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    counts = emb.agg(
        F.sum(F.when(F.col("label") >= 5, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("label") < 5, 1).otherwise(0)).alias("n_neg"),
    )
    return counts.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        fround(F.col("n_neg") * 1.0 / F.col("n_pos")).alias("scale_pos_weight"),
    )


@register(
    "sketch_approx_stats",
    sql=None,  # sketch internals are engine-specific -> rows-only check
    doc="The 100 TB scale path for G3/G5-class statistics: one-pass "
    "sketches (approx_percentile for the threshold quantiles, HLL "
    "approx_count_distinct for user cardinality) side by side with the "
    "exact answers, reporting absolute/relative error — at full scale the "
    "exact columns are dropped and only the sketch pass runs.",
)
def sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    agg = ev.agg(
        F.expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)").alias("ap"),
        F.percentile(F.col("value"), F.lit(0.95)).alias("exact_p95"),
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("ap")[0].alias("approx_p50"),
        F.col("ap")[1].alias("approx_p95"),
        "exact_p95",
        (F.abs(F.col("ap")[1] - F.col("exact_p95"))).alias("p95_abs_err"),
        F.col("approx_users").cast("long").alias("approx_users"),
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
        ).alias("users_rel_err"),
    )


# --- per-key grouped detector fit (the "one model per entity" pattern) ------


@register(
    "ml_per_key_threshold",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    ranked AS (
        SELECT user_id, id, ts_epoch, value, label,
               row_number() OVER (PARTITION BY user_id ORDER BY ts_epoch, id) AS rk,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM canon
    ),
    split AS (
        SELECT *, rk <= CAST(FLOOR(n * 0.85) AS BIGINT) AS is_train FROM ranked
    ),
    thr AS (
        SELECT user_id,
               quantile_cont(CASE WHEN is_train THEN value END, 0.95) AS t,
               CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train
        FROM split GROUP BY user_id
    )
    SELECT s.user_id,
           {sql_fround('max(t.t)')} AS threshold,
           max(t.n_train) AS n_train,
           count(*) AS n_test,
           CAST(SUM(CASE WHEN s.value > t.t AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s.value > t.t AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s.value <= t.t AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN s.value <= t.t AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
    FROM split s JOIN thr t ON t.user_id = s.user_id
    WHERE NOT s.is_train AND t.n_train > 0
    GROUP BY s.user_id
    """,
    doc="One detector per entity, fitted and evaluated declaratively: each "
    "user's P95-threshold model is trained on their first 85% of events "
    "(positional split per key) and scored on their tail 15%, producing "
    "per-user confusion counts — the grouped-model pattern (cohort / "
    "device / tenant models) with NO per-group driver loop and no Python: "
    "one per-key window shuffle + one aggregation, so fitting a million "
    "per-entity models costs the same plan as fitting ten.",
)
def ml_per_key_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    df = canonical_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "id")
    wn = Window.partitionBy("user_id")
    split = df.select(
        "user_id",
        "value",
        "label",
        (F.row_number().over(w) <= F.floor(F.count(F.lit(1)).over(wn) * 0.85)).alias(
            "is_train"
        ),
    )
    thr = split.groupBy("user_id").agg(
        F.percentile(F.when(F.col("is_train"), F.col("value")), F.lit(0.95)).alias("t"),
        F.sum(F.col("is_train").cast("long")).alias("n_train"),
    )
    test = split.filter(~F.col("is_train"))
    cm = confusion_sums((F.col("value") > F.col("t")).cast("int"), "label")
    return (
        test.join(thr, "user_id")
        .filter(F.col("n_train") > 0)
        .groupBy("user_id")
        .agg(
            fround(F.max("t")).alias("threshold"),
            F.max("n_train").alias("n_train"),
            F.count(F.lit(1)).alias("n_test"),
            *(cm[k].alias(k) for k in ("tp", "fp", "tn", "fn")),
        )
    )


@register(
    "sketch_mergeable_rollup",
    sql=None,  # sketch binary internals are engine-specific -> rows-only
    doc="The mergeability property that makes sketches the 100 TB "
    "pre-aggregation pattern: per-day HLL sketches of distinct users "
    "(hll_sketch_agg — computed once, stored beside the daily rollup) "
    "merge into the full-range estimate via hll_union_agg WITHOUT "
    "rescanning events, exactly how a year query reads 365 sketch rows "
    "instead of a year of raw data. Reports the merged estimate against "
    "the exact distinct count and the re-sketch of the raw range, "
    "proving merge == direct sketch.",
)
def sketch_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    ev = ev.select(F.to_date("ts").alias("day"), "user_id")
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_day_users"),
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate"),
        F.sum("exact_day_users").alias("sum_daily_users"),
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_estimate"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return merged.crossJoin(direct).select(
        "n_days",
        F.col("merged_estimate").cast("long").alias("merged_estimate"),
        F.col("direct_estimate").cast("long").alias("direct_estimate"),
        F.col("exact_users").cast("long").alias("exact_users"),
        "sum_daily_users",
        (F.col("merged_estimate") == F.col("direct_estimate")).alias("merge_lossless"),
        (
            F.abs(F.col("merged_estimate") - F.col("exact_users"))
            / F.col("exact_users")
        ).alias("rel_err"),
    )


_QSK_BINS = 256
_QSK_QS = (0.5, 0.9, 0.99)


@register(
    "sketch_quantile_rollup",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    src AS (
        SELECT CAST(FLOOR(ts_epoch / 86400.0) AS BIGINT) AS day, value FROM canon
    ),
    bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM src),
    binned AS (
        SELECT day,
               LEAST({_QSK_BINS - 1}, CAST(FLOOR((value - b.lo) / (b.hi - b.lo) * {_QSK_BINS}) AS BIGINT)) AS bin
        FROM src, bounds b
    ),
    daily AS (SELECT day, bin, COUNT(*) AS c FROM binned GROUP BY day, bin),
    merged AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS c FROM daily GROUP BY bin),
    cum AS (
        SELECT bin, c, SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_c,
               (SELECT CAST(SUM(c) AS BIGINT) FROM merged) AS n
        FROM merged
    ),
    qs AS (SELECT unnest(ARRAY[{", ".join(str(q) for q in _QSK_QS)}]) AS q),
    est AS (
        SELECT q.q, MIN(c.bin) AS qbin
        FROM qs q JOIN cum c ON c.cum_c >= CEILING(q.q * c.n)
        GROUP BY q.q
    ),
    exact AS (
        SELECT unnest(ARRAY[{", ".join(str(q) for q in _QSK_QS)}]) AS q,
               unnest(ARRAY[{", ".join(sql_fround(f'quantile_cont(value, {q})') for q in _QSK_QS)}]) AS exact_q
        FROM src
    )
    SELECT e.q,
           b.lo + e.qbin * (b.hi - b.lo) / {_QSK_BINS} AS est_lo,
           b.lo + (e.qbin + 1) * (b.hi - b.lo) / {_QSK_BINS} AS est_hi,
           x.exact_q,
           (x.exact_q >= b.lo + e.qbin * (b.hi - b.lo) / {_QSK_BINS}
            AND x.exact_q <= b.lo + (e.qbin + 1) * (b.hi - b.lo) / {_QSK_BINS})
               AS within_bound
    FROM est e JOIN exact x ON x.q = e.q, bounds b
    """,
    doc="Mergeable QUANTILE rollup — the percentile companion to the HLL "
    "rollup: per-day fixed-bin value histograms (deterministic integer "
    "bins over the global range) UNION-MERGE by bin addition into any "
    "time-range quantile estimate without rescanning raw data — the "
    "pattern approx_percentile cannot give you across stored groups. Each "
    "estimate is a [bin_lo, bin_hi) bracket with a PROVEN error bound "
    "(one bin width); the exact interpolated quantile rides along and "
    "within_bound certifies the bracket. Daily histograms are map-side-"
    "combinable groupBys; the merge is a ~256-row aggregation.",
)
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    df = canonical_events(spark, sf_dir)
    src = df.select(
        F.floor(F.col("ts_epoch") / 86400.0).cast("long").alias("day"), "value"
    )
    # ONE pass computes the global bounds AND the three exact quantiles
    # (they only need `value`), and the 1-row result is cached: its four
    # consumers (bin projection, the final bracket join, the exact-q
    # unpivot) each re-expanded the canonical-events lineage before —
    # 4 corpus scans; now 2 (this aggregate + the binning pass).
    b0 = src.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        *[
            fround(F.percentile(F.col("value"), F.lit(q))).alias(f"q_{i}")
            for i, q in enumerate(_QSK_QS)
        ],
    ).cache()
    b = b0.select("lo", "hi")
    binned = src.crossJoin(F.broadcast(b)).select(
        "day",
        F.least(
            F.lit(_QSK_BINS - 1).cast("long"),
            F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _QSK_BINS).cast("long"),
        ).alias("bin"),
    )
    daily = binned.groupBy("day", "bin").agg(F.count(F.lit(1)).alias("c"))
    merged = daily.groupBy("bin").agg(F.sum("c").cast("long").alias("c"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bin", "c", F.sum("c").over(w).alias("cum_c"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    qs = df.sparkSession.createDataFrame([(q,) for q in _QSK_QS], "q double")
    est = (
        F.broadcast(qs)
        .join(cum, cum.cum_c >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    # F.percentile needs a foldable fraction — the three exact quantiles
    # were computed in the cached bounds aggregate; unpivot them here
    exact = b0.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), F.col(f"q_{i}").alias("exact_q"))
                    for i, q in enumerate(_QSK_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact_q")
    joined = est.join(exact, "q").crossJoin(F.broadcast(b))
    width = (F.col("hi") - F.col("lo")) / _QSK_BINS
    est_lo = F.col("lo") + F.col("qbin") * width
    est_hi = F.col("lo") + (F.col("qbin") + 1) * width
    return joined.select(
        "q",
        est_lo.alias("est_lo"),
        est_hi.alias("est_hi"),
        "exact_q",
        ((F.col("exact_q") >= est_lo) & (F.col("exact_q") <= est_hi)).alias("within_bound"),
    )


_DRIFT_BINS = 20
_DRIFT_EPS = 1e-9


@register(
    "ml_drift_bins",
    sql=f"""
    WITH canon AS ({{canon}}),
    n AS (SELECT count(*) AS n_total FROM canon),
    tagged AS (
        SELECT c.value,
               CASE WHEN c.id <= CAST(FLOOR(0.85 * n.n_total) AS BIGINT)
                    THEN 'train' ELSE 'test' END AS split
        FROM canon c, n
    ),
    span AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi
        FROM tagged WHERE split = 'train'
    ),
    binned AS (
        SELECT t.split,
               LEAST({_DRIFT_BINS} - 1,
                     GREATEST(0, CAST(FLOOR((t.value - s.lo) / ((s.hi - s.lo) / {_DRIFT_BINS}.0)) AS BIGINT))) AS bin
        FROM tagged t, span s
    ),
    counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_train) AS BIGINT) AS tt, CAST(SUM(n_test) AS BIGINT) AS te
        FROM counts
    )
    SELECT c.bin, c.n_train, c.n_test,
           (CAST(c.n_train AS DOUBLE) / t.tt) AS p_train,
           (CAST(c.n_test AS DOUBLE) / t.te) AS p_test,
           (((CAST(c.n_train AS DOUBLE) / t.tt) - (CAST(c.n_test AS DOUBLE) / t.te))
            * ((CAST(c.n_train AS DOUBLE) / t.tt) - (CAST(c.n_test AS DOUBLE) / t.te))
            / ((CAST(c.n_train AS DOUBLE) / t.tt) + (CAST(c.n_test AS DOUBLE) / t.te) + {_DRIFT_EPS})) AS drift_term
    FROM counts c, tot t
    """.format(canon=CANON_SQL),
    doc="Train/serve distribution-drift detection — the production-ML "
    "monitor that catches a shifted feature before the model silently "
    "degrades: the value distribution of the 85% training window vs the "
    "15% holdout over TRAIN-FITTED equal-width bins (bins must come from "
    "the reference window only, the same leakage rule as P7 imputation), "
    "per-bin triangular-discrimination drift terms (ln-free — every term "
    "is a single-expression double, so the statistic is cross-engine "
    "exact without transcendental-rounding risk; sum the column for the "
    "PSI-style scalar). Plan shape: one pass tags the split positionally "
    "(dense id), the bin span is a 1-row broadcast, the census is one "
    "map-side-combinable groupBy on ~{b} bins.".format(b=_DRIFT_BINS, canon="{canon}"),
)
def ml_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    n_total = df.count()
    cut = int(0.85 * n_total)
    tagged = df.select(
        "value", F.when(F.col("id") <= cut, "train").otherwise("test").alias("split")
    )
    span = (
        tagged.filter(F.col("split") == "train")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()[0]
    )
    lo, hi = float(span["lo"]), float(span["hi"])
    width = (hi - lo) / float(_DRIFT_BINS)
    bin_col = F.least(
        F.lit(_DRIFT_BINS - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    ).cast("long")
    counts = tagged.groupBy(bin_col.alias("bin")).agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).cast("long").alias("n_test"),
    )
    # global totals as a window over the tiny binned frame — ONE lineage,
    # so the events are scanned once (a broadcast re-join of a separate
    # total aggregate would scan them again)
    from pyspark.sql.window import Window as _W

    j = counts.withColumns(
        {
            "tt": F.sum("n_train").over(_W.partitionBy()).cast("long"),
            "te": F.sum("n_test").over(_W.partitionBy()).cast("long"),
        }
    )
    p_train = F.col("n_train").cast("double") / F.col("tt")
    p_test = F.col("n_test").cast("double") / F.col("te")
    return j.select(
        "bin",
        "n_train",
        "n_test",
        p_train.alias("p_train"),
        p_test.alias("p_test"),
        ((p_train - p_test) * (p_train - p_test) / (p_train + p_test + _DRIFT_EPS)).alias(
            "drift_term"
        ),
    )


@register(
    "ts_value_k_corr",
    sql="""
    WITH ext AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vx,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(vx) AS BIGINT) AS sum_v_fx,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(vx * k) AS BIGINT) AS sum_vk_fx,
           ((count(*) * CAST(SUM(vx * k) AS DOUBLE) - CAST(SUM(vx) AS DOUBLE) * SUM(k))
            / (SQRT(count(*) * CAST(SUM(vx * vx) AS DOUBLE) - CAST(SUM(vx) AS DOUBLE) * SUM(vx))
             * SQRT(count(*) * CAST(SUM(k * k) AS DOUBLE) - CAST(SUM(k) AS DOUBLE) * SUM(k)))) AS pearson_r
    FROM ext GROUP BY event_type
    """,
    doc="Feature-correlation profile (the pre-training statistical screen): "
    "Pearson r between the value column and the extracted props.k per "
    "event type, computed from EXACT integer moment sums (value through "
    "the fixed-point kernel, k native integer) so every partial sum is "
    "reduction-order independent; the final r is a fixed arithmetic "
    "expression over those exact integers — identical on any engine, any "
    "cluster size. One scan, one small groupBy.",
)
def ts_value_k_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.load(spark, sf_dir, "events")
    ext = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vx"),
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("k"),
    )
    agg = ext.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vx").cast("long").alias("sum_v_fx"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum(F.col("vx") * F.col("k")).cast("long").alias("sum_vk_fx"),
        F.sum(F.col("vx") * F.col("vx")).cast("long").alias("sum_vv_fx"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sum_kk"),
    )
    num = (
        F.col("n") * F.col("sum_vk_fx").cast("double")
        - F.col("sum_v_fx").cast("double") * F.col("sum_k")
    )
    den = F.sqrt(
        F.col("n") * F.col("sum_vv_fx").cast("double")
        - F.col("sum_v_fx").cast("double") * F.col("sum_v_fx")
    ) * F.sqrt(
        F.col("n") * F.col("sum_kk").cast("double")
        - F.col("sum_k").cast("double") * F.col("sum_k")
    )
    return agg.select(
        "event_type",
        "n",
        "sum_v_fx",
        "sum_k",
        "sum_vk_fx",
        (num / den).alias("pearson_r"),
    )


@register(
    "ts_spearman_corr",
    sql="""
    WITH ext AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vx,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    ),
    ranked AS (
        SELECT event_type,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY vx)
                 + COUNT(*) OVER (PARTITION BY event_type, vx) - 1 AS rx2,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY k)
                 + COUNT(*) OVER (PARTITION BY event_type, k) - 1 AS ry2
        FROM ext WHERE k IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
               count(*) AS n,
               CAST(SUM(rx2) AS BIGINT) AS sum_x,
               CAST(SUM(ry2) AS BIGINT) AS sum_y,
               CAST(SUM(rx2 * ry2) AS BIGINT) AS sum_xy,
               CAST(SUM(rx2 * rx2) AS BIGINT) AS sum_xx,
               CAST(SUM(ry2 * ry2) AS BIGINT) AS sum_yy
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n, sum_x, sum_y, sum_xy,
           ((n * CAST(sum_xy AS DOUBLE) - CAST(sum_x AS DOUBLE) * sum_y)
            / (SQRT(n * CAST(sum_xx AS DOUBLE) - CAST(sum_x AS DOUBLE) * sum_x)
             * SQRT(n * CAST(sum_yy AS DOUBLE) - CAST(sum_y AS DOUBLE) * sum_y))) AS spearman_rho
    FROM agg
    """,
    doc="Spearman rank correlation between value and props.k per event type "
    "— the monotonic (outlier-robust) companion to ts_value_k_corr's "
    "Pearson screen; diverging rho vs r flags a nonlinear-but-monotone "
    "relation a linear detector would miss. Ties use textbook average "
    "ranks kept INTEGER by doubling (rx2 = 2*RANK + tie_count - 1), so "
    "every moment sum is an exact BIGINT and the final rho is the same "
    "fixed float-op sequence on both engines. Plan: ranking is one sort "
    "per (small-cardinality) event_type partition — the inherent cost of "
    "any rank statistic — then a 6-cell groupBy; nothing else shuffles.",
)
def ts_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = io.load(spark, sf_dir, "events")
    ext = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vx"),
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("k"),
    ).filter(F.col("k").isNotNull())
    rx2 = (
        2 * F.rank().over(Window.partitionBy("event_type").orderBy("vx"))
        + F.count(F.lit(1)).over(Window.partitionBy("event_type", "vx"))
        - 1
    ).cast("long")
    ry2 = (
        2 * F.rank().over(Window.partitionBy("event_type").orderBy("k"))
        + F.count(F.lit(1)).over(Window.partitionBy("event_type", "k"))
        - 1
    ).cast("long")
    ranked = ext.select("event_type", rx2.alias("rx2"), ry2.alias("ry2"))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").cast("long").alias("sum_x"),
        F.sum("ry2").cast("long").alias("sum_y"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sum_xy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sum_xx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("sum_yy"),
    )
    num = (
        F.col("n") * F.col("sum_xy").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_y")
    )
    den = F.sqrt(
        F.col("n") * F.col("sum_xx").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x")
    ) * F.sqrt(
        F.col("n") * F.col("sum_yy").cast("double")
        - F.col("sum_y").cast("double") * F.col("sum_y")
    )
    return agg.select(
        "event_type", "n", "sum_x", "sum_y", "sum_xy", (num / den).alias("spearman_rho")
    )


_PR_TAUS = (0.80, 0.85, 0.90, 0.95, 0.99)


@register(
    "g9_pr_curve",
    sql=f"""
    WITH canon AS ({{canon}}),
    qs AS (
        SELECT {", ".join(
            f"quantile_cont(value, {t}) AS q_{int(t * 100)}" for t in _PR_TAUS
        )}
        FROM canon
    ),
    taus AS (
        {" UNION ALL ".join(
            f"SELECT {t} AS tau, q_{int(t * 100)} AS thr FROM qs" for t in _PR_TAUS
        )}
    ),
    scored AS (
        SELECT t.tau, t.thr,
               SUM(CASE WHEN c.value > t.thr AND c.label = 1 THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN c.value > t.thr AND c.label = 0 THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN c.value <= t.thr AND c.label = 1 THEN 1 ELSE 0 END) AS fn
        FROM canon c, taus t
        GROUP BY t.tau, t.thr
    )
    SELECT tau,
           {{thr_round}} AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           (CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)) AS precision,
           (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)) AS recall
    FROM scored
    """.format(canon=CANON_SQL, thr_round=sql_fround("thr")),
    doc="Precision-recall curve for the percentile detector (the G1/G2 "
    "confusion shape swept over an operating-point grid — the eval every "
    "threshold choice should be read off, like sim_threshold_sweep for "
    "dedup): five candidate percentile thresholds, each scored with "
    "exact integer confusion counts. Plan shape: ONE distributed "
    "exact-percentile pass computes all five thresholds together, the "
    "five-row threshold table broadcasts into a single scoring scan "
    "(conditional aggregation per tau — the corpus is read ONCE, not "
    "once per operating point), precision/recall are single divisions "
    "over exact integers.",
)
def g9_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    qs = df.agg(
        *[
            F.percentile(F.col("value"), F.lit(t)).alias(f"q_{int(t * 100)}")
            for t in _PR_TAUS
        ]
    ).collect()[0]
    taus = spark.createDataFrame(
        [(t, float(qs[f"q_{int(t * 100)}"])) for t in _PR_TAUS], "tau double, thr double"
    )
    cm = confusion_sums((F.col("value") > F.col("thr")).cast("int"), "label")
    scored = (
        df.crossJoin(F.broadcast(taus))
        .groupBy("tau", "thr")
        .agg(*(cm[k].alias(k) for k in ("tp", "fp", "fn")))
    )
    return scored.select(
        "tau",
        fround(F.col("thr")).alias("threshold"),
        "tp",
        "fp",
        "fn",
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))).alias(
            "recall"
        ),
    )


@register(
    "sketch_hll_intersection",
    sql=None,  # HLL binary sketches are engine-internal — rows-only check
    doc="HLL set-operation estimates across time ranges (the audience-"
    "overlap question every analytics engine gets: 'how many users were "
    "active in BOTH week 1 and week 2?'): per-week user sketches "
    "union-merge to |A∪B| and the intersection estimate follows by "
    "inclusion-exclusion |A|+|B|-|A∪B| — computed entirely from the "
    "per-week sketch artifacts, no raw-data rescan, the same "
    "store-the-sketch pattern as sketch_mergeable_rollup. Exact counts "
    "computed alongside prove the estimates' error on this data; at "
    "100 TB only the estimates are affordable and the sketches are "
    "kilobytes.",
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.operators.timeseries import canonical_events

    df = canonical_events(spark, sf_dir)
    week = F.floor(F.col("ts_epoch") / (7 * 86400.0)).cast("long")
    tagged = df.select(week.alias("week"), "user_id")
    # lo (the first week) is not an EAGER collect, which would be a whole
    # blocking driver job before the sketch job starts (the §52
    # lazy-broadcast pattern). It rides both downstream jobs as a
    # broadcast single-row aggregate (coalesce makes it 0 on an empty
    # corpus), one fewer action.
    # Nothing caches it, so the aggregate runs once in EACH consuming job:
    # twice per call (the cached sketch frame's job and the exact-census
    # job), each a pass over the canonical table's (ts_epoch, user_id).
    # Returning lo with the sketches to run it once measured no faster
    # (build + noop sink, sf0.1, local[4]: median 1.49 s vs 1.63 s over
    # 14 warm runs each, inside the runs' 0.27 s interquartile spread).
    lo_df = tagged.agg(
        F.coalesce(F.min("week"), F.lit(0)).cast("long").alias("lo")
    )
    t2 = tagged.crossJoin(F.broadcast(lo_df)).filter(
        F.col("week").between(F.col("lo"), F.col("lo") + 1)
    )
    # the 2-row sketch frame serves TWO collects (per-week estimates +
    # the union merge); without the cache each collect re-ran the whole
    # canon pass (guide §5 — derived frame inside the timed region)
    sk = (
        t2.select(
            F.when(F.col("week") == F.col("lo"), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("s"),
            "user_id",
        )
        .groupBy("s")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .cache()
    )
    try:
        ests = {
            r["s"]: r
            for r in sk.select("s", F.hll_sketch_estimate("sk").alias("e")).collect()
        }
        union_est = sk.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u")
        ).collect()[0]["u"]
    finally:
        sk.unpersist()
    # all three exact counts from ONE per-user census pass (guide §1.2
    # step 1): the old three separate distinct().count() actions each
    # re-ran the canon pass (and the union side twice). groupBy keeps a
    # null-user group exactly like distinct().count() did, so the counts
    # are identical under any data.
    ex = (
        t2.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("week") == F.col("lo"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("week") == F.col("lo") + 1, 1).otherwise(0)
            ).alias("in_b"),
        )
        .agg(
            # coalesce: SUM over zero rows yields NULL where a distinct
            # count is 0 — an empty corpus reports 0, not NULL
            F.coalesce(F.sum("in_a"), F.lit(0)).cast("long").alias("ea"),
            F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("eb"),
            F.count(F.lit(1)).cast("long").alias("eu"),
        )
        .collect()[0]
    )
    ex_a, ex_b, ex_union = int(ex["ea"]), int(ex["eb"]), int(ex["eu"])
    rows = [
        ("week_a_users", float(ests["a"]["e"]), float(ex_a)),
        ("week_b_users", float(ests["b"]["e"]), float(ex_b)),
        ("union_users", float(union_est), float(ex_union)),
        (
            "intersection_users",
            float(ests["a"]["e"] + ests["b"]["e"] - union_est),
            float(ex_a + ex_b - ex_union),
        ),
    ]
    return spark.createDataFrame(rows, "metric string, estimate double, exact double")


_MAD_K = 3.0 * 1.4826  # 3 sigma under the normal-consistency constant


@register(
    "ts_outlier_mad",
    sql=f"""
    WITH canon AS ({{canon}}),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM canon GROUP BY event_type
    ),
    dev AS (
        SELECT c.event_type, c.value, m.med, ABS(c.value - m.med) AS adev
        FROM canon c JOIN med m ON m.event_type = c.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n_rows,
           {{med_r}} AS median_value,
           {{mad_r}} AS mad_value,
           CAST(SUM(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type, m.mad, d.med
    """.format(
        canon=CANON_SQL, med_r=sql_fround("d.med"), mad_r=sql_fround("m.mad")
    ),
    doc="Robust outlier detection via median absolute deviation — the "
    "detector family that survives what breaks z-scores (a single "
    "extreme value inflates a mean/stddev band until nothing else "
    "flags; the median and MAD have 50% breakdown). Per event type: "
    "exact median, exact MAD, and the count beyond 3 normal-consistent "
    "MADs. Plan shape: two distributed exact-percentile passes (median "
    "of values, median of deviations) + one flagging scan, all keyed on "
    "the low-cardinality type — the 100 TB path swaps quantile_cont for "
    "the mergeable histogram sketch_quantile_rollup already provides.",
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    # median and MAD as window percentiles over the event_type
    # partitioning (the ts_residual_outliers / ml_detector_kappa shape):
    # the groupBy + broadcast-join chains re-expanded the
    # canonical-events lineage once per statistic (4 scans); both
    # percentiles now ride one exchange with the final groupBy.
    we = Window.partitionBy("event_type")
    dev = df.withColumn(
        "med", F.percentile(F.col("value"), F.lit(0.5)).over(we)
    ).withColumn("adev", F.abs(F.col("value") - F.col("med")))
    j = dev.withColumn("mad", F.percentile(F.col("adev"), F.lit(0.5)).over(we))
    return j.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("adev") > _MAD_K * F.col("mad"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    ).select(
        "event_type",
        "n_rows",
        fround(F.col("med")).alias("median_value"),
        fround(F.col("mad")).alias("mad_value"),
        "n_outliers",
    )


# --- decile lift table (score-ranking model evaluation) ----------------------

_LIFT_DECILES = 10


@register(
    "ml_lift_table",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx, label
        FROM canon
    ),
    cuts AS (
        SELECT {", ".join(f"quantile_cont(CAST(v_fx AS DOUBLE), {k / 10!r}) AS c{k}" for k in range(1, _LIFT_DECILES))}
        FROM fx
    ),
    bucketed AS (
        SELECT ({_LIFT_DECILES} - ({" + ".join(f"CASE WHEN f.v_fx > c.c{k} THEN 1 ELSE 0 END" for k in range(1, _LIFT_DECILES))}))
                   AS decile,
               f.label
        FROM fx f, cuts c
    ),
    per AS (
        SELECT decile, count(*) AS n,
               CAST(SUM(label) AS BIGINT) AS n_pos
        FROM bucketed GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt FROM per)
    SELECT p.decile, p.n, p.n_pos,
           (CAST(p.n_pos AS DOUBLE) / p.n) AS response_rate,
           ((CAST(p.n_pos AS DOUBLE) / p.n) / (CAST(t.pt AS DOUBLE) / t.nt)) AS lift,
           (CAST(SUM(p.n_pos) OVER (ORDER BY p.decile) AS DOUBLE) / t.pt) AS cum_capture
    FROM per p, tot t
    """,
    doc="Decile lift/gains table for a score-ranked detector (the "
    "campaign-targeting / triage-quality evaluation: how concentrated "
    "are positives in the top score deciles). Scale shape: deciles come "
    "from nine QUANTILE CUTS broadcast as one row — membership is nine "
    "comparisons in the scan — NOT an ntile window, which would "
    "global-sort every row at 100 TB for the same statistic; counts "
    "reduce in one groupBy over 10 keys and the cumulative capture runs "
    "over the 10-row result. Cut exactness: quantiles are taken over "
    "fixed-point integers, so an interpolated cut is either exactly an "
    "integer (both engines) or strictly between representable scores — "
    "bucket membership cannot flip on a last-ulp cut difference.",
)
def ml_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    fx = df.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("v_fx"),
        "label",
    )
    cuts = fx.agg(
        *[
            F.percentile(F.col("v_fx").cast("double"), F.lit(k / 10)).alias(f"c{k}")
            for k in range(1, _LIFT_DECILES)
        ]
    )
    decile = F.lit(_LIFT_DECILES)
    for k in range(1, _LIFT_DECILES):
        decile = decile - F.when(F.col("v_fx") > F.col(f"c{k}"), 1).otherwise(0)
    per = (
        fx.crossJoin(F.broadcast(cuts))
        .select(decile.alias("decile"), "label")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("label").cast("long").alias("n_pos"))
    )
    # totals via a window over the 10-row decile frame: one lineage, so
    # the scored events are scanned once (a broadcast re-join would rescan)
    per = per.withColumns(
        {
            "nt": F.sum("n").over(W.partitionBy()).cast("long"),
            "pt": F.sum("n_pos").over(W.partitionBy()).cast("long"),
        }
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n")).alias("response_rate"),
        (
            (F.col("n_pos").cast("double") / F.col("n"))
            / (F.col("pt").cast("double") / F.col("nt"))
        ).alias("lift"),
        (F.sum("n_pos").over(w).cast("double") / F.col("pt")).alias("cum_capture"),
    )


# --- chi-square association census -------------------------------------------


@register(
    "ml_chi2_assoc",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    med AS (
        SELECT quantile_cont(CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE), 0.5)
                   AS m_fx
        FROM canon
    ),
    tagged AS (
        SELECT c.event_type,
               CASE WHEN CAST(FLOOR(c.value * 100.0 + 0.5) AS BIGINT) > m.m_fx
                    THEN 1 ELSE 0 END AS high_value
        FROM canon c, med m
    ),
    cells AS (
        SELECT event_type, high_value, count(*) AS observed
        FROM tagged GROUP BY event_type, high_value
    ),
    margins AS (
        SELECT c.event_type, c.high_value, c.observed,
               CAST(SUM(c.observed) OVER (PARTITION BY c.event_type) AS BIGINT) AS row_n,
               CAST(SUM(c.observed) OVER (PARTITION BY c.high_value) AS BIGINT) AS col_n,
               CAST(SUM(c.observed) OVER () AS BIGINT) AS n
        FROM cells c
    )
    SELECT event_type, high_value, observed,
           ((CAST(row_n AS DOUBLE) * col_n) / n) AS expected,
           (((CAST(observed AS DOUBLE) * n - CAST(row_n AS DOUBLE) * col_n)
             * (CAST(observed AS DOUBLE) * n - CAST(row_n AS DOUBLE) * col_n))
            / ((CAST(n AS DOUBLE) * row_n) * col_n)) AS chi2_term
    FROM margins
    """,
    doc="Chi-square association census between a categorical column and a "
    "binary feature split at the (fixed-point) median — the feature-"
    "screening statistic supervised pipelines run before training. Each "
    "cell's (O*N - R*C)^2 / (N*R*C) term is a single fixed expression "
    "sequence over integer margins, so every term is bit-identical "
    "cross-engine (sum the column for the chi2 scalar; terms are "
    "per-cell rows exactly so no order-dependent float reduction "
    "exists). Plan shape: one scan tags the split against a 1-row "
    "broadcast median, one groupBy builds the contingency cells, and "
    "margins are windows over the CELL table (|types| x 2 rows), not "
    "the data.",
)
def ml_chi2_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    med = df.agg(
        F.percentile(v_fx.cast("double"), F.lit(0.5)).alias("m_fx")
    )
    tagged = df.crossJoin(F.broadcast(med)).select(
        "event_type",
        F.when(v_fx > F.col("m_fx"), 1).otherwise(0).alias("high_value"),
    )
    cells = tagged.groupBy("event_type", "high_value").agg(
        F.count(F.lit(1)).alias("observed")
    )
    margins = cells.select(
        "event_type",
        "high_value",
        "observed",
        F.sum("observed").over(W.partitionBy("event_type")).cast("long").alias("row_n"),
        F.sum("observed").over(W.partitionBy("high_value")).cast("long").alias("col_n"),
        F.sum("observed").over(W.partitionBy()).cast("long").alias("n"),
    )
    dev = F.col("observed").cast("double") * F.col("n") - F.col("row_n").cast(
        "double"
    ) * F.col("col_n")
    return margins.select(
        "event_type",
        "high_value",
        "observed",
        ((F.col("row_n").cast("double") * F.col("col_n")) / F.col("n")).alias("expected"),
        (
            (dev * dev)
            / ((F.col("n").cast("double") * F.col("row_n")) * F.col("col_n"))
        ).alias("chi2_term"),
    )


# --- Poisson-bootstrap confidence intervals for detector metrics -------------

_BOOT_B = 32  # replicates
# cumulative Poisson(1) CDF cut points scaled to 16-bit integers; computed
# once here, embedded as identical literals in BOTH plans, so the per-row
# weight draw is pure integer comparison cross-engine
_BOOT_CUTS = []
import math as _math  # noqa: E402

_acc, _fact = 0.0, 1.0
for _k in range(5):
    if _k:
        _fact *= _k
    _acc += _math.exp(-1.0) / _fact
    _BOOT_CUTS.append(int(_acc * 65536))


def _boot_u_sql(b: str, idc: str) -> str:
    h = f"md5(CAST({b} AS VARCHAR) || ':' || CAST({idc} AS VARCHAR))"
    return (
        f"(((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096)"
        f" + ((strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256)"
        f" + ((strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16)"
        f" + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1))"
    )


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_BOOT_CUTS)
    )
    return f"(CASE {cases} ELSE 5 END)"


@register(
    "ml_bootstrap_ci",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    thr AS (
        SELECT quantile_cont(CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE),
                             0.95) AS t_fx
        FROM canon
    ),
    scored AS (
        SELECT c.id, c.label,
               CASE WHEN CAST(FLOOR(c.value * 100.0 + 0.5) AS BIGINT) > t.t_fx
                    THEN 1 ELSE 0 END AS predicted
        FROM canon c, thr t
    ),
    rep AS (
        SELECT s.id, s.label, s.predicted, r.b,
               {_boot_w_sql(_boot_u_sql("r.b", "s.id"))} AS w
        FROM scored s, UNNEST(range(0, {_BOOT_B})) AS r(b)
    ),
    per AS (
        SELECT b,
               CAST(SUM(CASE WHEN predicted = 1 AND label = 1 THEN w ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN predicted = 1 AND label = 0 THEN w ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN predicted = 0 AND label = 1 THEN w ELSE 0 END) AS BIGINT) AS fn
        FROM rep GROUP BY b
    )
    SELECT b, tp, fp, fn,
           (CAST(tp AS DOUBLE) / (tp + fn)) AS recall,
           (CAST(tp AS DOUBLE) / (tp + fp)) AS precision_
    FROM per
    """,
    doc="Poisson-bootstrap confidence distribution for detector precision/"
    "recall (the uncertainty quantification point estimates hide — 'is "
    "recall 0.41 +/- 0.02 or +/- 0.2': each of {B} replicates reweights "
    "every row by an independent Poisson(1) count, the distributed-"
    "friendly bootstrap — no resampling shuffle, no per-replicate scan). "
    "Determinism: the weight is a pure integer comparison of a 16-bit "
    "md5(replicate:id) draw against Poisson CDF cut points embedded as "
    "identical literals in both plans — identical resamples on any "
    "engine, partitioning, or cluster size. Plan shape: one threshold "
    "broadcast, one in-row explode x{B}, one {B}-key groupBy of integer "
    "conditional sums; quantile the replicate rows for the interval.".format(
        B=_BOOT_B
    ),
)
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    thr = df.agg(F.percentile(v_fx.cast("double"), F.lit(0.95)).alias("t_fx"))
    scored = df.crossJoin(F.broadcast(thr)).select(
        "id",
        "label",
        F.when(v_fx > F.col("t_fx"), 1).otherwise(0).alias("predicted"),
    )
    # u via conv(hex4) — identical value to the oracle's strpos arithmetic
    u = (
        "CAST(conv(substr(md5(CAST(b AS STRING) || ':' || CAST(id AS STRING)), 1, 4),"
        " 16, 10) AS INT)"
    )
    rep = scored.select(
        "id",
        "label",
        "predicted",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn("w", F.expr(_boot_w_sql(u)))
    cm = confusion_sums("predicted", "label", weight=F.col("w"))
    per = rep.groupBy("b").agg(*(cm[k].alias(k) for k in ("tp", "fp", "fn")))
    return per.select(
        F.col("b").cast("long").alias("b"),
        "tp",
        "fp",
        "fn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias("recall"),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("precision_"),
    )


# --- sliced evaluation (per-group metric breakdown) --------------------------


@register(
    "ml_metric_slices",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    thr AS (
        SELECT quantile_cont(CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE),
                             0.95) AS t_fx
        FROM canon
    ),
    scored AS (
        SELECT c.user_id % 4 AS cohort, c.label,
               CASE WHEN CAST(FLOOR(c.value * 100.0 + 0.5) AS BIGINT) > t.t_fx
                    THEN 1 ELSE 0 END AS predicted
        FROM canon c, thr t
    )
    SELECT cohort,
           count(*) AS n_rows,
           CAST(SUM(CASE WHEN predicted = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN predicted = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN predicted = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN predicted = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           (CAST(SUM(CASE WHEN predicted = 1 AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / NULLIF(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END), 0)) AS recall,
           (CAST(SUM(CASE WHEN predicted = 1 AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / NULLIF(SUM(CASE WHEN predicted = 1 THEN 1 ELSE 0 END), 0)) AS precision_
    FROM scored
    GROUP BY cohort
    """,
    doc="Sliced detector evaluation (the fairness/robustness report a "
    "single global confusion matrix hides: a detector can be 0.9-recall "
    "overall and 0.2-recall on one user cohort): the same P95-threshold "
    "detector as g1, broken out per user cohort (user_id % 4 — the "
    "deterministic stand-in for a demographic/tenant slice column) with "
    "per-slice confusion counts and recall/precision as single integer "
    "divides. Plan shape: one threshold broadcast, one scan, one "
    "groupBy on the slice key — adding slices never adds passes.",
)
def ml_metric_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    thr = df.agg(F.percentile(v_fx.cast("double"), F.lit(0.95)).alias("t_fx"))
    scored = df.crossJoin(F.broadcast(thr)).select(
        (F.col("user_id") % 4).alias("cohort"),
        "label",
        F.when(v_fx > F.col("t_fx"), 1).otherwise(0).alias("predicted"),
    )
    cm = confusion_sums("predicted", "label")
    tp = cm["tp"].cast("double")
    return scored.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *(cm[k].alias(k) for k in ("tp", "fp", "fn", "tn")),
        # predicted is never null: tp + fn counts the label-1 rows and
        # tp + fp the predicted-1 rows, the oracle's denominators
        (tp / F.nullif(cm["tp"] + cm["fn"], F.lit(0))).alias("recall"),
        (tp / F.nullif(cm["tp"] + cm["fp"], F.lit(0))).alias("precision_"),
    )


# --- PR-AUC from the registered operating-point curve ------------------------

_AUC_SCALE = 1_000_000_000_000


def _pr_auc_sql() -> str:
    """Composes the registered g9_pr_curve spec: trapezoid area under the
    measured operating points."""
    from exact_spark.registry import REGISTRY

    pr = REGISTRY["g9_pr_curve"].sql
    return f"""
    WITH pr AS ({pr}),
    seq AS (
        SELECT recall, precision,
               LEAD(recall) OVER w AS r2,
               LEAD(precision) OVER w AS p2
        FROM pr
        WINDOW w AS (ORDER BY recall, precision)
    ),
    terms AS (
        SELECT CAST(FLOOR((r2 - recall) * (precision + p2) / 2.0
                    * {_AUC_SCALE}.0 + 0.5) AS BIGINT) AS t_fx
        FROM seq WHERE r2 IS NOT NULL
    )
    SELECT count(*) AS n_segments,
           (CAST(SUM(t_fx) AS DOUBLE) / {_AUC_SCALE}.0) AS pr_auc_est
    FROM terms
    """


@register(
    "ml_pr_auc",
    sql=_pr_auc_sql(),  # composes the registered sibling spec
    doc="PR-AUC estimate from the REGISTERED operating-point curve "
    "(the single-number ranking-quality summary next to the curve "
    "itself): trapezoid area between consecutive measured (recall, "
    "precision) points — an estimate over the 5-point grid, stated as "
    "such (n_segments column), not a pretend-exact AP. Each trapezoid "
    "term is a single fixed expression then FIXED-POINT summed, so the "
    "4-term reduction is order-independent cross-engine. Plan: the "
    "curve's one-scan shape plus a 5-row window.",
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    pr = g9_pr_curve(spark, sf_dir)
    w = W.orderBy("recall", "precision")
    seq = pr.select(
        "recall",
        "precision",
        F.lead("recall").over(w).alias("r2"),
        F.lead("precision").over(w).alias("p2"),
    ).filter(F.col("r2").isNotNull())
    t_fx = F.floor(
        (F.col("r2") - F.col("recall"))
        * (F.col("precision") + F.col("p2"))
        / 2.0
        * F.lit(float(_AUC_SCALE))
        + F.lit(0.5)
    ).cast("long")
    return seq.agg(
        F.count(F.lit(1)).alias("n_segments"),
        (F.sum(t_fx).cast("double") / F.lit(float(_AUC_SCALE))).alias("pr_auc_est"),
    )


# --- Gini-gain feature screening ---------------------------------------------


@register(
    "ml_gini_gain",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    med AS (
        SELECT quantile_cont(CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE), 0.5)
                   AS m_v,
               quantile_cont(CAST(user_id AS DOUBLE), 0.5) AS m_u
        FROM canon
    ),
    feats AS (
        SELECT 'value_gt_median' AS feature,
               CASE WHEN CAST(FLOOR(c.value * 100.0 + 0.5) AS BIGINT) > m.m_v
                    THEN 1 ELSE 0 END AS side,
               c.label
        FROM canon c, med m
        UNION ALL
        SELECT 'user_gt_median' AS feature,
               CASE WHEN c.user_id > m.m_u THEN 1 ELSE 0 END AS side,
               c.label
        FROM canon c, med m
        UNION ALL
        SELECT 'hour_ge_12' AS feature,
               CASE WHEN CAST(FLOOR(c.ts_epoch / 3600.0) AS BIGINT) % 24 >= 12
                    THEN 1 ELSE 0 END AS side,
               c.label
        FROM canon c, med m
    ),
    cells AS (
        SELECT feature, side,
               count(*) AS n_s,
               CAST(SUM(label) AS BIGINT) AS p_s
        FROM feats GROUP BY feature, side
    ),
    agg AS (
        SELECT feature,
               CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(SUM(p_s) AS BIGINT) AS p,
               SUM((CAST(p_s AS DOUBLE) * (n_s - p_s)) / n_s) AS split_term
        FROM cells GROUP BY feature
    )
    SELECT feature, n AS n_rows,
           (2.0 * ((CAST(p AS DOUBLE) * (n - p)) / n - split_term) / n) AS gini_gain
    FROM agg
    """,
    doc="Gini-gain feature screening (the decision-tree split criterion "
    "as a standalone ranking — the log-free sibling of chi-square and "
    "mutual information: gain = Gini(parent) - weighted Gini(children) "
    "for a binary split per candidate feature): three candidate splits "
    "score in ONE union-scan + one (feature, side) census; with binary "
    "labels Gini algebra collapses to p_s*(n_s - p_s)/n_s per side — "
    "one divide of BIGINT cell counts, summed over exactly two sides "
    "per feature (a 2-term reduction of identical-input divides, "
    "cross-engine stable). Plan: one threshold broadcast, census over "
    "6 cells.",
)
def ml_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    med = df.agg(
        F.percentile(v_fx.cast("double"), F.lit(0.5)).alias("m_v"),
        F.percentile(F.col("user_id").cast("double"), F.lit(0.5)).alias("m_u"),
    )
    base = df.crossJoin(F.broadcast(med))
    # one scan for all three candidate splits: the previous 3-way
    # self-union re-expanded the canonical-events lineage per feature
    feats = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("value_gt_median").alias("feature"),
                    F.when(v_fx > F.col("m_v"), 1).otherwise(0).alias("side"),
                ),
                F.struct(
                    F.lit("user_gt_median").alias("feature"),
                    F.when(F.col("user_id") > F.col("m_u"), 1)
                    .otherwise(0)
                    .alias("side"),
                ),
                F.struct(
                    F.lit("hour_ge_12").alias("feature"),
                    F.when(
                        F.floor(F.col("ts_epoch") / 3600.0).cast("long") % 24
                        >= 12,
                        1,
                    )
                    .otherwise(0)
                    .alias("side"),
                ),
            )
        ).alias("fs"),
        "label",
    ).select(F.col("fs.feature").alias("feature"), F.col("fs.side").alias("side"), "label")
    cells = feats.groupBy("feature", "side").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("label").cast("long").alias("p_s")
    )
    agg = cells.groupBy("feature").agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("p_s").cast("long").alias("p"),
        F.sum(
            (F.col("p_s").cast("double") * (F.col("n_s") - F.col("p_s"))) / F.col("n_s")
        ).alias("split_term"),
    )
    return agg.select(
        "feature",
        F.col("n").alias("n_rows"),
        (
            F.lit(2.0)
            * (
                (F.col("p").cast("double") * (F.col("n") - F.col("p"))) / F.col("n")
                - F.col("split_term")
            )
            / F.col("n")
        ).alias("gini_gain"),
    )


# --- exact two-sample KS statistic -------------------------------------------


@register(
    "ml_ks_statistic",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    tagged AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx,
               CASE WHEN id <= (SELECT CAST(FLOOR(0.85 * count(*)) AS BIGINT) FROM canon)
                    THEN 0 ELSE 1 END AS grp
        FROM canon
    ),
    counts AS (
        SELECT v_fx,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM tagged GROUP BY v_fx
    ),
    cum AS (
        SELECT v_fx,
               SUM(c0) OVER (ORDER BY v_fx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0,
               SUM(c1) OVER (ORDER BY v_fx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
        FROM counts
    ),
    dev AS (
        SELECT c.v_fx,
               abs(c.f0 * t.n1 - c.f1 * t.n0) AS d_int,
               row_number() OVER (
                   ORDER BY abs(c.f0 * t.n1 - c.f1 * t.n0) DESC, c.v_fx ASC
               ) AS rk,
               t.n0, t.n1
        FROM cum c, tot t
    )
    SELECT n0 AS n_train, n1 AS n_test,
           (v_fx / 100.0) AS ks_at_value,
           (CAST(d_int AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)) AS ks_statistic
    FROM dev WHERE rk = 1
    """,
    doc="Exact two-sample Kolmogorov-Smirnov statistic between the train "
    "window's and holdout's value distributions (the distribution-shift "
    "test ml_drift_bins approximates with bins — this is the EXACT "
    "sup-norm ECDF distance, plus WHERE it occurs): both ECDFs evaluate "
    "on the merged distinct fixed-point value grid via ONE ordered "
    "cumulative window over value-cardinality rows (never raw-row "
    "sorting); |F0 - F1| maximizes as the INTEGER |f0*n1 - f1*n0| so "
    "argmax and tie-breaks are cross-engine exact, with the one divide "
    "after selection. At 100 TB the cumulative window partitions by "
    "value range exactly like the dense-id two-pass scheme.",
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    n_total = df.count()
    cut = int(0.85 * n_total)
    tagged = df.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("v_fx"),
        F.when(F.col("id") <= cut, 0).otherwise(1).alias("grp"),
    )
    counts = tagged.groupBy("v_fx").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    w = W.orderBy("v_fx").rowsBetween(W.unboundedPreceding, 0)
    # running ECDFs and the GLOBAL n0/n1 from the same window pass over
    # the value-grid frame: one lineage, so the events are scanned once (a
    # broadcast re-joined total branch would rescan them)
    cum = counts.select(
        "v_fx",
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c0").over(W.partitionBy()).cast("long").alias("n0"),
        F.sum("c1").over(W.partitionBy()).cast("long").alias("n1"),
    )
    d_int = F.abs(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0"))
    dev = cum.select(
        "v_fx",
        "n0",
        "n1",
        d_int.alias("d_int"),
        F.row_number().over(W.orderBy(d_int.desc(), F.col("v_fx").asc())).alias("rk"),
    )
    return dev.filter(F.col("rk") == 1).select(
        F.col("n0").alias("n_train"),
        F.col("n1").alias("n_test"),
        (F.col("v_fx") / 100.0).alias("ks_at_value"),
        (F.col("d_int").cast("double") / (F.col("n0").cast("double") * F.col("n1"))).alias(
            "ks_statistic"
        ),
    )


# --- exact ROC-AUC (tie-aware Mann-Whitney) -----------------------------------


@register(
    "ml_roc_auc",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx, label
        FROM canon
    ),
    grid AS (
        SELECT v_fx,
               CAST(SUM(label) AS BIGINT) AS pos_at,
               CAST(count(*) - SUM(label) AS BIGINT) AS neg_at
        FROM fx GROUP BY v_fx
    ),
    cum AS (
        SELECT v_fx, pos_at, neg_at,
               CAST(COALESCE(SUM(neg_at) OVER (
                   ORDER BY v_fx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS neg_below
        FROM grid
    ),
    agg AS (
        SELECT CAST(SUM(pos_at) AS BIGINT) AS n_pos,
               CAST(SUM(neg_at) AS BIGINT) AS n_neg,
               CAST(SUM(pos_at * (2 * neg_below + neg_at)) AS BIGINT) AS u2
        FROM cum
    )
    SELECT n_pos, n_neg, u2,
           (CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)) AS auc
    FROM agg
    """,
    doc="Exact ROC-AUC of the value-as-score detector via the tie-aware "
    "Mann-Whitney statistic (the threshold-free companion to "
    "g1_confusion_metrics' single operating point and ml_pr_auc's "
    "estimate — this one is EXACT, not a curve approximation). Scale "
    "shape: scores collapse to the distinct fixed-point value GRID "
    "first (map-side combinable groupBy), the single-partition window "
    "runs over grid cardinality only — never a global sort of raw rows "
    "— and concordance is the all-integer 2U = sum(pos_at * (2*neg_below "
    "+ neg_at)), so ties contribute exactly half. AUC is ONE divide of "
    "two exact BIGINTs — cross-engine bit-identical.",
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    df = canonical_events(spark, sf_dir)
    fx = df.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("v_fx"),
        "label",
    )
    grid = fx.groupBy("v_fx").agg(
        F.sum("label").cast("long").alias("pos_at"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("neg_at"),
    )
    w = W.orderBy("v_fx").rowsBetween(W.unboundedPreceding, -1)
    cum = grid.withColumn(
        "neg_below", F.coalesce(F.sum("neg_at").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("pos_at").cast("long").alias("n_pos"),
        F.sum("neg_at").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_at") * (F.lit(2) * F.col("neg_below") + F.col("neg_at"))
        )
        .cast("long")
        .alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# --- calibration reliability bins ---------------------------------------------

_CALIB_BINS = 10


@register(
    "ml_calibration_bins",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_fx, label
        FROM canon
    ),
    span AS (
        SELECT MIN(v_fx) AS lo, MAX(v_fx) AS hi FROM fx
    ),
    binned AS (
        SELECT ((f.v_fx - s.lo) * {_CALIB_BINS}) // (s.hi - s.lo + 1) AS bin,
               f.v_fx, f.label
        FROM fx f, span s
    )
    SELECT bin,
           count(*) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           (CAST(SUM(v_fx) AS DOUBLE) / count(*) / 100.0) AS mean_score,
           (CAST(SUM(label) AS DOUBLE) / count(*)) AS pos_rate
    FROM binned
    GROUP BY bin
    """,
    doc="Reliability-diagram bins for the value-as-score detector: mean "
    "score vs observed positive rate per equal-WIDTH score decile (the "
    "calibration companion to ml/calibrate.py's isotonic fit — this is "
    "the diagnostic that says whether calibration is needed at all). "
    "Scale shape: the bin edge comes from one (min, max) aggregate "
    "broadcast as a single row, membership is integer arithmetic in the "
    "scan — (v_fx-lo)*10 DIV (hi-lo+1), no quantile pass, no window — "
    "and the result has at most 10 rows. mean_score and pos_rate are "
    "the same single-op divide sequence on BIGINT sums in both engines.",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    fx = df.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("v_fx"),
        "label",
    )
    span = fx.agg(F.min("v_fx").alias("lo"), F.max("v_fx").alias("hi"))
    binned = fx.crossJoin(F.broadcast(span)).select(
        F.expr(f"(v_fx - lo) * {_CALIB_BINS} DIV (hi - lo + 1)").alias("bin"),
        "v_fx",
        "label",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
        (F.sum("v_fx").cast("double") / F.count(F.lit(1)) / F.lit(100.0)).alias(
            "mean_score"
        ),
        (F.sum("label").cast("double") / F.count(F.lit(1))).alias("pos_rate"),
    )


# --- F1-optimal operating point from the registered curve ---------------------


def _best_threshold_sql() -> str:
    from exact_spark.registry import REGISTRY

    pr = REGISTRY["g9_pr_curve"].sql
    return f"""
    WITH pr AS ({pr}),
    scored AS (
        SELECT tau, threshold, tp, fp, fn, precision, recall,
               (CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0)) AS f1
        FROM pr
    )
    SELECT tau, threshold, tp, fp, fn, precision, recall, f1
    FROM (
        SELECT *, row_number() OVER (ORDER BY f1 DESC, tau) AS rk FROM scored
    ) WHERE rk = 1
    """


@register(
    "ml_best_threshold",
    sql=_best_threshold_sql(),  # composes the registered sibling spec
    doc="F1-optimal operating point selected from the REGISTERED "
    "g9_pr_curve grid (the threshold the detector should actually "
    "serve with — closes the sweep-then-pick loop the reference does "
    "by eyeball). F1 is ONE divide of exact integer confusion counts "
    "(2tp / (2tp+fp+fn)) so the doubles are bit-identical cross-engine "
    "and the argmax ordering (f1 desc, tau asc tie-break) cannot flip; "
    "the window runs over the 5-row curve, nothing rescans the corpus.",
)
def ml_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    pr = g9_pr_curve(spark, sf_dir)
    scored = pr.withColumn(
        "f1",
        (F.lit(2) * F.col("tp")).cast("double")
        / F.nullif(F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
    )
    return (
        scored.withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("f1").desc(), F.col("tau")))
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


@register(
    "ml_detector_kappa",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    thr AS (SELECT quantile_cont(value, 0.95) AS t FROM canon),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM canon GROUP BY event_type
    ),
    dev AS (
        SELECT c.event_type, c.value, ABS(c.value - m.med) AS adev
        FROM canon c JOIN med m ON m.event_type = c.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    ),
    flags AS (
        SELECT CASE WHEN d.value > t.t THEN 1 ELSE 0 END AS fa,
               CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END AS fb
        FROM dev d JOIN mad m ON m.event_type = d.event_type, thr t
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_flag,
               CAST(SUM(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
               CAST(SUM(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_only,
               CAST(SUM(CASE WHEN fa = 0 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neither
        FROM flags
    )
    SELECT both_flag, a_only, b_only, neither,
           CAST(both_flag + a_only + b_only + neither AS BIGINT) AS n,
           (CAST((both_flag + a_only + b_only + neither) * (both_flag + neither)
                 - ((both_flag + a_only) * (both_flag + b_only)
                    + (b_only + neither) * (a_only + neither)) AS DOUBLE)
            / CAST((both_flag + a_only + b_only + neither)
                   * (both_flag + a_only + b_only + neither)
                 - ((both_flag + a_only) * (both_flag + b_only)
                    + (b_only + neither) * (a_only + neither)) AS DOUBLE)) AS kappa
    FROM cm
    """,
    doc="Cohen's kappa agreement between two REGISTERED detector families "
    "— the global-P95 threshold (G5) and the per-type 3-MAD robust "
    "detector (ts_outlier_mad) — chance-corrected, so high raw overlap "
    "on a mostly-normal corpus cannot masquerade as agreement. The "
    "ensemble-design signal: low kappa means the detectors disagree on "
    "WHICH rows are anomalous and voting (ml_ensemble_vote) adds "
    "information; kappa near 1 means a second detector is redundant. "
    "Exactness: the 2x2 agreement table is four BIGINT counts from one "
    "conditional aggregate; kappa collapses to one divide of two exact "
    "BIGINTs (n*po_count - pe_sum over n^2 - pe_sum). Plan shape: the "
    "two quantile passes the component detectors already pay, then one "
    "flagging scan with both thresholds broadcast — no new shuffle.",
)
def ml_detector_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    # per-stream median and MAD as window percentiles over event_type —
    # the groupBy + broadcast-join chain re-expanded the canonical-events
    # lineage once per statistic (ts_residual_outliers' shape). The
    # global threshold STAYS a broadcast 1-row aggregate: a
    # whole-table window would shuffle every row to one task at scale,
    # while the extra scan it costs is column-pruned to `value`.
    thr = df.agg(F.percentile(F.col("value"), F.lit(_P)).alias("t"))
    we = Window.partitionBy("event_type")
    dev = df.withColumn(
        "med", F.percentile(F.col("value"), F.lit(0.5)).over(we)
    ).withColumn("adev", F.abs(F.col("value") - F.col("med")))
    flags = (
        dev.withColumn(
            "mad", F.percentile(F.col("adev"), F.lit(0.5)).over(we)
        )
        .crossJoin(F.broadcast(thr))
        .select(
            F.when(F.col("value") > F.col("t"), 1).otherwise(0).alias("fa"),
            F.when(F.col("adev") > _MAD_K * F.col("mad"), 1).otherwise(0).alias("fb"),
        )
    )
    # the 2x2 agreement table is G1's with detector b as the "actual"
    cells = confusion_sums("fa", "fb")
    cm = flags.agg(
        cells["tp"].alias("both_flag"),
        cells["fp"].alias("a_only"),
        cells["fn"].alias("b_only"),
        cells["tn"].alias("neither"),
    )
    a, b, c, d = (F.col(x) for x in ("both_flag", "a_only", "b_only", "neither"))
    n = (a + b + c + d).cast("long")
    pe_sum = ((a + b) * (a + c) + (c + d) * (b + d)).cast("long")
    kappa = (n * (a + d) - pe_sum).cast("double") / (n * n - pe_sum).cast("double")
    return cm.select(
        "both_flag", "a_only", "b_only", "neither", n.alias("n"), kappa.alias("kappa")
    )


@register(
    "ml_brier_rank_score",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vx, label
        FROM canon
    ),
    grid AS (
        SELECT vx, count(*) AS cnt,
               CAST(SUM(count(*)) OVER (ORDER BY vx) AS BIGINT) AS cum
        FROM fx GROUP BY vx
    ),
    cells AS (
        SELECT f.vx, f.label, count(*) AS c_cell, g.cum - g.cnt + 1 AS rnk
        FROM fx f JOIN grid g ON g.vx = f.vx
        GROUP BY f.vx, f.label, g.cum, g.cnt
    ),
    tot AS (SELECT count(*) AS n FROM fx)
    SELECT t.n,
           CAST(SUM(c.c_cell * (c.rnk - c.label * t.n) * (c.rnk - c.label * t.n)) AS BIGINT)
               AS sum_sq_fx,
           (CAST(SUM(c.c_cell * (c.rnk - c.label * t.n) * (c.rnk - c.label * t.n)) AS DOUBLE)
              / CAST(t.n * t.n * t.n AS DOUBLE)) AS brier_score
    FROM cells c, tot t
    GROUP BY t.n
    """,
    doc="Brier score of the rank-probability detector — mean squared error "
    "between label and p = rank/n, the threshold-free CALIBRATION "
    "companion to ml_roc_auc's threshold-free discrimination (AUC says "
    "the ordering is right; Brier says the probabilities themselves are "
    "usable — the decision input for ml/calibrate.py). Exactness: rank "
    "collapses to the distinct-value grid (min-rank = cum - cnt + 1), "
    "each (value, label) cell contributes cnt * (rank - label*n)^2 as an "
    "exact BIGINT, and the score is ONE divide by n^3. Plan shape: one "
    "grid groupBy + a grid-sized cumulative window + one cell groupBy — "
    "the corpus is scanned once and no window ever sees row cardinality.",
)
def ml_brier_rank_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    df = canonical_events(spark, sf_dir)
    fx = df.select(
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vx"), "label"
    )
    grid = (
        fx.groupBy("vx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(Window.orderBy("vx")).cast("long"),
        )
    )
    cells = (
        fx.groupBy("vx", "label")
        .agg(F.count(F.lit(1)).alias("c_cell"))
        .join(grid, "vx")
        .select(
            "label", "c_cell", (F.col("cum") - F.col("cnt") + 1).alias("rnk")
        )
    )
    # n = sum of cell counts (every fx row lands in exactly one cell), as
    # a window over the tiny grid frame — one lineage, no second fx scan
    # for the total branch
    j = cells.withColumn(
        "n", F.sum("c_cell").over(Window.partitionBy()).cast("long")
    )
    diff = F.col("rnk") - F.col("label") * F.col("n")
    agg = j.groupBy("n").agg(
        F.sum(F.col("c_cell") * diff * diff).cast("long").alias("sum_sq_fx")
    )
    return agg.select(
        "n",
        "sum_sq_fx",
        (
            F.col("sum_sq_fx").cast("double")
            / (F.col("n") * F.col("n") * F.col("n")).cast("double")
        ).alias("brier_score"),
    )


_OVL_BINS = 20


@register(
    "ml_score_overlap",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    fx AS (
        SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vx, label
        FROM canon
    ),
    bounds AS (SELECT MIN(vx) AS lo, MAX(vx) AS hi FROM fx),
    binned AS (
        SELECT LEAST({_OVL_BINS - 1},
                     CAST(((f.vx - b.lo) * {_OVL_BINS}) // (b.hi - b.lo + 1) AS BIGINT)) AS bin,
               f.label
        FROM fx f, bounds b
    ),
    cells AS (
        SELECT bin,
               CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS np, CAST(SUM(n_neg) AS BIGINT) AS nn
        FROM cells
    )
    SELECT t.np AS n_pos, t.nn AS n_neg,
           CAST(SUM(LEAST(c.n_pos * t.nn, c.n_neg * t.np)) AS BIGINT) AS overlap_num_fx,
           (CAST(SUM(LEAST(c.n_pos * t.nn, c.n_neg * t.np)) AS DOUBLE)
              / CAST(t.np * t.nn AS DOUBLE)) AS overlap_coefficient
    FROM cells c, tot t
    GROUP BY t.np, t.nn
    """,
    doc="Overlap coefficient of the score distributions (positive vs "
    "negative class over a {b}-bin histogram) — the separability "
    "statistic in PROBABILITY-MASS terms: 0 = perfectly separable, 1 = "
    "indistinguishable; 1 - overlap bounds the achievable balanced "
    "accuracy, making it the honest ceiling next to ml_roc_auc's "
    "ordering view and ml_ks_statistic's sup-norm view. Exactness: the "
    "per-bin min of the two class fractions avoids any float fraction "
    "by cross-multiplying to INTEGER products (min(n_pos*N_neg, "
    "n_neg*N_pos)), so the whole sum is one exact BIGINT and the "
    "coefficient is ONE divide. Plan shape: one scan to {b} cells with "
    "a broadcast bounds row; constant-size result at any volume.".format(
        b=_OVL_BINS
    ),
)
def ml_score_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    fx = df.select(
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vx"), "label"
    )
    bounds = fx.agg(F.min("vx").alias("lo"), F.max("vx").alias("hi"))
    binned = fx.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_OVL_BINS - 1),
            F.expr(f"CAST(((vx - lo) * {_OVL_BINS}) DIV (hi - lo + 1) AS BIGINT)"),
        ).alias("bin"),
        "label",
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("long").alias("n_neg"),
    )
    from pyspark.sql.window import Window as _W

    # totals via a window over the binned frame: one lineage, so the
    # events are scanned once (a broadcast re-join would rescan them)
    j = cells.withColumns(
        {
            "np": F.sum("n_pos").over(_W.partitionBy()).cast("long"),
            "nn": F.sum("n_neg").over(_W.partitionBy()).cast("long"),
        }
    )
    term = F.least(F.col("n_pos") * F.col("nn"), F.col("n_neg") * F.col("np"))
    agg = j.groupBy("np", "nn").agg(F.sum(term).cast("long").alias("overlap_num_fx"))
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        "overlap_num_fx",
        (
            F.col("overlap_num_fx").cast("double")
            / (F.col("np") * F.col("nn")).cast("double")
        ).alias("overlap_coefficient"),
    )


# --- A/B cohort comparison: Welch's t-test ----------------------------------
# The experimentation primitive every analytics engine grows sooner or
# later: split USERS (not events — randomization unit = user, so serial
# correlation within a user never inflates significance) into two cohorts
# by a salted hash, compare a per-user metric with Welch's unequal-variance
# t statistic. The reference has detector evaluation but no cohort
# comparison at all.

_AB_SALT = "ab1:"


@register(
    "ml_ab_welch",
    sql=f"""
    WITH canon AS ({CANON_SQL}),
    per_user AS (
        SELECT user_id,
               CASE WHEN strpos('0123456789abcdef',
                        substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 1)) - 1
                    < 8 THEN 'A' ELSE 'B' END AS cohort,
               CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                          / (count(*) * 100.0) + 0.5) AS BIGINT) AS u_fx
        FROM canon GROUP BY user_id
    ),
    cs AS (
        SELECT cohort, count(*) AS n,
               CAST(SUM(u_fx) AS BIGINT) AS s,
               CAST(SUM(u_fx * u_fx) AS BIGINT) AS q
        FROM per_user GROUP BY cohort
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN cohort = 'A' THEN n END) AS n_a,
            MAX(CASE WHEN cohort = 'B' THEN n END) AS n_b,
            MAX(CASE WHEN cohort = 'A' THEN s END) AS s_a,
            MAX(CASE WHEN cohort = 'B' THEN s END) AS s_b,
            MAX(CASE WHEN cohort = 'A' THEN q END) AS q_a,
            MAX(CASE WHEN cohort = 'B' THEN q END) AS q_b
        FROM cs
    )
    SELECT n_a, n_b,
           CASE WHEN n_a >= 1 THEN (CAST(s_a AS DOUBLE) / n_a) / 10000.0 END AS mean_a,
           CASE WHEN n_b >= 1 THEN (CAST(s_b AS DOUBLE) / n_b) / 10000.0 END AS mean_b,
           CASE WHEN n_a > 1 THEN
             ((CAST(q_a AS DOUBLE) - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / n_a)
                 / (n_a - 1)) / 100000000.0 END AS var_a,
           CASE WHEN n_b > 1 THEN
             ((CAST(q_b AS DOUBLE) - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / n_b)
                 / (n_b - 1)) / 100000000.0 END AS var_b,
           CASE WHEN n_a > 1 AND n_b > 1 THEN
             ((CAST(s_a AS DOUBLE) / n_a) / 10000.0 - (CAST(s_b AS DOUBLE) / n_b) / 10000.0)
               / sqrt(
                   (((CAST(q_a AS DOUBLE) - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / n_a)
                       / (n_a - 1)) / 100000000.0) / n_a
                   + (((CAST(q_b AS DOUBLE) - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / n_b)
                       / (n_b - 1)) / 100000000.0) / n_b
                 ) END AS t_stat
    FROM wide
    """,
    doc="A/B cohort comparison with Welch's unequal-variance t-test: "
    "users hash into cohorts A/B by salted-md5 first-hex-digit parity "
    "(deterministic, balanced, reproducible across engines and runs), "
    "the per-user metric is the user's mean event value, and the t "
    "statistic compares cohort means without assuming equal variances. "
    "Randomizing and aggregating at USER grain is the part that matters: "
    "event-grain tests overcount repeated users and fake significance. "
    "Exactness: event values go fixed-point 1e6 before the per-user sum, "
    "each user mean is re-rounded to ONE 1e4 BIGINT, so cohort sum and "
    "sum-of-squares are exact integers in both engines; mean/var/t are "
    "then a fixed tree of IEEE double ops (sqrt is correctly rounded — "
    "safe cross-engine, see gotchas). Plan shape: groupBy(user) then "
    "groupBy(cohort) — two map-side-combinable shuffles collapsing to 2 "
    "rows, then driver-free scalar algebra; at 100 TB the user groupBy "
    "is the only real exchange and it is the minimum any user-grain "
    "metric needs. Sum-of-squares headroom: u_fx <= 5.6e6 at this data's "
    "value range, so q overflows BIGINT only past ~1e5x more users than "
    "sf0.1; a DECIMAL(38) sum is the documented upgrade at that scale.",
)
def ml_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = canonical_events(spark, sf_dir)
    v_fx = F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")
    cohort = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_AB_SALT), F.col("user_id").cast("string"))), 1, 1),
            16,
            10,
        ).cast("int")
        < 8,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    per_user = (
        df.select("user_id", v_fx.alias("v_fx"))
        .groupBy("user_id")
        .agg(F.sum("v_fx").cast("long").alias("s_fx"), F.count(F.lit(1)).alias("cnt"))
        .select(
            cohort.alias("cohort"),
            F.floor(F.col("s_fx").cast("double") / (F.col("cnt") * 100.0) + F.lit(0.5))
            .cast("long")
            .alias("u_fx"),
        )
    )
    cs = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u_fx").cast("long").alias("s"),
        F.sum(F.col("u_fx") * F.col("u_fx")).cast("long").alias("q"),
    )
    wide = cs.agg(
        F.max(F.when(F.col("cohort") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("cohort") == "A", F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("cohort") == "A", F.col("q"))).alias("q_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("q"))).alias("q_b"),
    )
    # Degenerate cohorts (size 0 or 1) must yield NULL — not a 0-division
    # whose NULL/inf propagation differs between Spark and DuckDB. The
    # guards mirror the CASE WHEN tree in the oracle SQL exactly.
    mean = lambda s, n: F.when(  # noqa: E731
        F.col(n) >= 1, (F.col(s).cast("double") / F.col(n)) / 10000.0
    )
    var = lambda q, s, n: F.when(  # noqa: E731
        F.col(n) > 1,
        (
            (
                F.col(q).cast("double")
                - (F.col(s).cast("double") * F.col(s).cast("double")) / F.col(n)
            )
            / (F.col(n) - 1)
        )
        / 100000000.0,
    )
    se = F.sqrt(var("q_a", "s_a", "n_a") / F.col("n_a") + var("q_b", "s_b", "n_b") / F.col("n_b"))
    return wide.select(
        "n_a",
        "n_b",
        mean("s_a", "n_a").alias("mean_a"),
        mean("s_b", "n_b").alias("mean_b"),
        var("q_a", "s_a", "n_a").alias("var_a"),
        var("q_b", "s_b", "n_b").alias("var_b"),
        F.when(
            (F.col("n_a") > 1) & (F.col("n_b") > 1),
            (mean("s_a", "n_a") - mean("s_b", "n_b")) / se,
        ).alias("t_stat"),
    )
