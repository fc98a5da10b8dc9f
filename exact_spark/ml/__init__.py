"""Detection models (SURVEY.md §2.7) — Spark-native.

Registered e2e detectors (rows-only driver checks — model training is not
SQL-expressible): the MLlib decision-tree pipeline (M5), logistic
regression (M6 analog), and the broadcast-model ``mapInPandas`` detectors
(M1-M3 shape: PCA-reconstruction autoencoder, native isolation forest) —
train driver-side on a capped deterministic sample, broadcast the small
model state, score distributedly. The XAI occlusion pipeline (X1-X6 shape
+ G6 NDCG) is registered the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exact_spark.ml.models import align_predictions, get_model
from exact_spark.operators.metrics import confusion_sums
from exact_spark.operators.timeseries import canonical_events
from exact_spark.registry import register


def _event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical events + derived hour-of-day feature (P6 selection)."""
    return canonical_events(spark, sf_dir).withColumn(
        "hour", ((F.col("ts_epoch") / 3600) % 24).cast("double")
    )


def _confusion(scored: DataFrame) -> DataFrame:
    """G1 counts over (label, predicted) — the e2e result shape."""
    return scored.agg(
        *(c.alias(k) for k, c in confusion_sums("predicted", "label").items()),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def _detector_e2e_on(df: DataFrame, cut: int, model_name: str) -> DataFrame:
    """§7.2 slice with a DetectorModel over a pre-cached feature frame:
    85% positional train split (P9), train, distributed detect on all
    rows, P13-align by id join, G1."""
    feats = ["value", "hour"]
    model = get_model(model_name)
    model.run(df.filter(F.col("id") <= cut), feats)
    return _confusion(align_predictions(df, model.detect(df, feats)))


def _cached_features(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """One cached, well-partitioned feature frame shared by every model
    branch of an e2e query (cache it once, not once per model).

    Repartition BEFORE caching: the canonical frame exits its global
    row_number sort in one partition; cached as-is, every downstream job
    (count, train, detect, join) would run single-task. One shuffle here
    makes them all parallel.
    """
    par = spark.sparkContext.defaultParallelism
    df = _event_features(spark, sf_dir).repartition(min(par, 8)).cache()
    cut = int(0.85 * df.count())
    return df, cut


def _detector_e2e(spark: SparkSession, sf_dir: str, model_name: str) -> DataFrame:
    df, cut = _cached_features(spark, sf_dir)
    return _detector_e2e_on(df, cut, model_name)


def _decision_tree_pipeline(df: DataFrame, cut: int) -> DataFrame:
    """M5 + M7 explicit pipeline: MinMax-scale -> DecisionTreeClassifier
    (seed fixed) on the 85% split -> detect on all rows -> confusion
    metrics (decision_tree.py:13-871 re-expressed on pyspark.ml)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml import Pipeline

    train = df.filter(F.col("id") <= cut)

    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["value", "hour"], outputCol="raw_features"),
            MinMaxScaler(inputCol="raw_features", outputCol="features"),
            DecisionTreeClassifier(
                labelCol="label", featuresCol="features", maxDepth=5, seed=42
            ),
        ]
    )
    model = pipe.fit(train)
    scored = model.transform(df).select(
        "label", F.col("prediction").cast("int").alias("predicted")
    )
    return _confusion(scored)


@register(
    "ml_supervised_e2e",
    sql=None,  # model training is not SQL-expressible -> rows-only check
    doc="M4/M5/M6/M7 + §7.2 slice, one row per model: decision_tree "
    "(explicit MinMaxScaler pipeline, decision_tree.py:13-871), "
    "logistic_regression (M6 analog, SGDClassifier.py:14-620 on "
    "pyspark.ml), gbt (distributed boosted ensemble on pyspark.ml), and "
    "xgboost — the NATIVE histogram second-order boosting implementation "
    "of XGBoost.py:11-699's algorithm (Chen & Guestrin 2016: logloss "
    "g/h, regularized gain, quantile-binned hists, scale_pos_weight; "
    "xgboost the library is absent, the math is not). Each: 85% "
    "positional train split -> train -> distributed score on all rows -> "
    "confusion metrics.",
)
def ml_supervised_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    # Fit/score the three models CONCURRENTLY: Spark job submission is
    # thread-safe and the scheduler interleaves their (individually
    # under-parallel, iteration-bound) jobs, so wall-clock approaches
    # max(branch) instead of sum — the same trick CrossValidator's
    # `parallelism` uses. Each branch collects its single confusion row
    # inside its thread to force evaluation there.
    df, cut = _cached_features(spark, sf_dir)

    def branch(name: str) -> dict:
        if name == "decision_tree":
            row = _decision_tree_pipeline(df, cut).collect()[0]
        elif name == "xgboost":
            # the reference feeds scale_pos_weight = neg/pos from the G8
            # class counts into XGBoost (XGBoost.py:83-92) — a calibrated
            # logloss model on a weak 20%-positive signal otherwise
            # (correctly) never crosses P=0.5
            counts = (
                df.filter(F.col("id") <= cut)
                .groupBy("label").count().collect()
            )
            by = {r["label"]: r["count"] for r in counts}
            spw = by.get(0, 1) / max(by.get(1, 1), 1)
            model = get_model(name, scale_pos_weight=spw)
            model.run(df.filter(F.col("id") <= cut), ["value", "hour"])
            det = model.detect(df, ["value", "hour"])
            row = _confusion(align_predictions(df, det)).collect()[0]
        else:
            row = _detector_e2e_on(df, cut, name).collect()[0]
        return {"model": name, **row.asDict()}

    names = ["decision_tree", "logistic_regression", "gbt", "xgboost"]
    with ThreadPoolExecutor(len(names)) as ex:
        rows = list(ex.map(branch, names))
    df.unpersist()
    return spark.createDataFrame(
        rows,
        schema="model string, tp long, tn long, fp long, fn long, n_rows long",
    )


@register(
    "ml_unsupervised_e2e",
    sql=None,  # model training is not SQL-expressible -> rows-only check
    doc="M1-M3 shape, one row per model: isolation_forest (native forest, "
    "isolation_forest.py:9-173 semantics — trained driver-side on a capped "
    "ordered sample, scored distributedly via broadcast-model Arrow "
    "mapInPandas, threshold at the (1-contamination) training-score "
    "quantile), pca_autoencoder (linear AE via top-k principal "
    "components, anomaly = reconstruction error > P95 of training errors, "
    "lstm.py:151-167 threshold semantics), and ae_ocsvm (svm.py:16-250's "
    "AE + OneClassSVM shape — SVDD-style hypersphere on the nonlinear "
    "latent space, (1-nu)-quantile boundary).",
)
def ml_unsupervised_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    # concurrent branches over one shared cached frame — see
    # ml_supervised_e2e
    df, cut = _cached_features(spark, sf_dir)

    def branch(name: str) -> dict:
        row = _detector_e2e_on(df, cut, name).collect()[0]
        return {"model": name, **row.asDict()}

    names = ["isolation_forest", "pca_autoencoder", "ae_ocsvm"]
    with ThreadPoolExecutor(len(names)) as ex:
        rows = list(ex.map(branch, names))
    df.unpersist()
    return spark.createDataFrame(
        rows,
        schema="model string, tp long, tn long, fp long, fn long, n_rows long",
    )


@register(
    "ml_cv_stratified",
    sql=None,
    doc="Stratified k-fold CV (custom splitter — no MLlib equivalent; "
    "StratifiedKFold contract of XGBoost.py:327-470): md5-rank round-robin "
    "fold deal within each class, per-fold decision-tree train/eval with "
    "G1/G2 metrics. One row per fold.",
)
def ml_cv_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.ml.cv import cross_validate

    # bound the splitter DEMO: the contract under test is the stratified
    # deal + per-fold train/eval loop, not fit volume — 8k rows exercise it
    # identically at any sf while keeping the 3x MLlib fit cost flat
    df = _event_features(spark, sf_dir).filter(F.col("id") <= 8_000).cache()
    rows = cross_validate(
        df, lambda: get_model("decision_tree"), ["value", "hour"], k=3
    )
    return spark.createDataFrame(
        rows,
        schema="fold int, tp long, tn long, fp long, fn long, "
        "accuracy double, precision double, recall double, f1 double",
    )


@register(
    "ml_param_search",
    sql=None,  # model training is not SQL-expressible -> rows-only check
    doc="M4/M5 hyperparameter search (RandomizedSearchCV analog, "
    "XGBoost.py:83-92,376-441 / decision_tree.py:353-441): seeded md5-"
    "ranked sample of the cartesian grid, each candidate trained on folds "
    "!= 0 of the md5-stratified deal and F1-scored on held-out fold 0 "
    "(TrainValidationSplit semantics on the stratified splitter), best "
    "combo flagged selected (the model_params.update(best_params_) refit "
    "mapping). One row per candidate; deterministic under any "
    "partitioning.",
)
def ml_param_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.ml.search import param_search
    from exact_spark.operators.inject import AnomalySetting, inject_anomalies

    # search over a LEARNABLE target: inject a known anomaly span (the
    # organic labels are not separable by these two features, which would
    # make every candidate's F1 ~0 and the selection meaningless)
    base = (
        _event_features(spark, sf_dir)
        .filter(F.col("id") <= 5_000)
        .select(
            "id",
            F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
            "value",
            "hour",
            F.lit(0).alias("label"),
            F.lit(False).alias("injected_anomaly"),
        )
    )
    start = base.agg(F.min(F.col("timestamp").cast("double"))).collect()[0][0]
    settings = [
        AnomalySetting(
            "custom", 3600.0, 4 * 86400.0, magnitude=25.0, percentage=100.0,
            columns=["value"],
        )
    ]
    df = inject_anomalies(base, settings, start).cache()
    _best, results = param_search(
        df, "decision_tree", ["value", "hour"], n_iter=3, k=2
    )
    return spark.createDataFrame(
        results,
        schema="params string, f1 double, precision double, recall double, "
        "selected boolean",
    )


@register(
    "ml_isotonic_calibration",
    sql=None,  # model training is not SQL-expressible -> rows-only check
    doc="M6 probability calibration (SGDClassifier.py:426-453's "
    "CalibratedClassifierCV(isotonic) on the hinge path): LinearSVC "
    "margins fitted on stratified folds != 0, MLlib IsotonicRegression "
    "(margin -> P(anomaly)) fitted on held-out fold 0, fully distributed "
    "scoring. Output: 10-quantile calibration curve (mean margin, mean "
    "calibrated probability, empirical positive rate per bucket) — "
    "monotonicity and [0,1] bounds are property-tested.",
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from exact_spark.ml.calibrate import CalibratedMarginDetector

    df = _event_features(spark, sf_dir).filter(F.col("id") <= 5_000).cache()
    model = CalibratedMarginDetector(k=2)
    model.run(df, ["value", "hour"])
    proba = model.predict_proba_df(df, ["value", "hour"]).join(
        df.select("id", "label"), "id"
    )
    decile = F.ntile(10).over(Window.orderBy("margin", "id"))
    return (
        proba.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("margin"), 6).alias("mean_margin"),
            F.round(F.avg("proba"), 6).alias("mean_proba"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("pos_rate"),
        )
        .orderBy("decile")
    )


_SEQ_L = 5  # sequence length (reference default time_steps=10, lstm.py:101)


@register(
    "ml_sequence_window_e2e",
    sql=None,
    doc="M1 shape + W1 + P13 in one distributed pipeline: per-series "
    "(user_id) trailing length-5 windows built JVM-side "
    "(collect_list over a partitioned window — the sequence tensor of "
    "utils.py:147-282 without driver materialization), flattened to "
    "L*F feature columns, RECURRENT Elman-RNN autoencoder (native "
    "numpy BPTT — the recurrence of lstm.py:89-115 with Keras removed; "
    "gradient-checked in tests/test_rnn_ae.py) with the P95 "
    "last-20%-of-training-windows error threshold, distributed "
    "broadcast-weights scoring, window-end-id left join alignment "
    "(execute_calls.py:653-690).",
)
def ml_sequence_window_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    df = _event_features(spark, sf_dir).cache()
    n = df.count()
    cut = int(0.85 * n)
    par = spark.sparkContext.defaultParallelism

    # W1: trailing windows per series — hash-partitioned by user_id, no
    # global sort, full windows only
    w = (
        Window.partitionBy("user_id")
        .orderBy("id")
        .rowsBetween(-(_SEQ_L - 1), Window.currentRow)
    )
    win = df.select(
        "id",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.flatten(F.collect_list(F.array("value", "hour")).over(w)).alias("x"),
    ).filter(F.col("w_n") == _SEQ_L)
    flat = win.select(
        "id", *[F.col("x")[i].alias(f"x{i}") for i in range(_SEQ_L * 2)]
    )
    cols = [f"x{i}" for i in range(_SEQ_L * 2)]

    model = get_model("rnn_autoencoder", epochs=10)
    model.run(flat.filter(F.col("id") <= cut).repartition(min(par, 8)), cols)
    det = model.detect(flat.repartition(par), cols)

    # P13: one result per window END id; align back to every row
    return _confusion(align_predictions(df, det))


@register(
    "xai_methods_ndcg",
    sql=None,
    doc="X1-X6 + G6 e2e, one row per implemented explainer (the reference "
    "runs multiple XAI methods per job and compares NDCG, "
    "xai_runner.py:310-881 / xai_factory.py:18-108): inject a known "
    "anomaly span into the canonical events series (A1-A9), train the "
    "threshold detector, occlusion AND permutation feature attribution "
    "over one W3-selected instance set (per-instance fan-out, X6 "
    "aggregation), NDCG@k vs the injected-column ground truth, per-method "
    "timing (execute_calls.py:897-900).",
)
def xai_methods_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.ml.explain import METHODS, run_explanations
    from exact_spark.operators.inject import AnomalySetting, inject_anomalies

    df = _event_features(spark, sf_dir).select(
        "id",
        F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
        "value",
        "hour",
        "label",
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    start = df.agg(F.min(F.col("timestamp").cast("double"))).collect()[0][0]
    settings = [
        AnomalySetting(
            "custom", 3600.0, 7200.0, magnitude=25.0, percentage=100.0,
            columns=["value"],
        )
    ]
    injected = inject_anomalies(df, settings, start).cache()
    feats = ["value", "hour"]
    model = get_model("threshold")
    model.run(injected.filter(F.col("label") == 0), feats)
    # first_n_anomalies: the injected span sits in the series' first hours,
    # so the earliest label-1 rows are dominated by injected ground truth —
    # random_anomalies would mostly sample ORGANIC anomalies (no injection
    # truth attached) and the NDCG signal would collapse to 0
    summary = run_explanations(
        model, injected, feats, settings, start,
        strategy="first_n_anomalies", n_instances=10,
    )
    rows = [
        {
            "method": m,
            "n_instances": int(summary["n_instances"]),
            "n_features_ranked": len(r["aggregated_feature_importances"]),
            "ndcg_at_3": float(r["ndcg_at_3"]),
            "ndcg_at_5": float(r["ndcg_at_5"]),
            "ndcg_at_10": float(r["ndcg_at_10"]),
        }
        for m in METHODS
        for r in [summary["per_method"][m]]
    ]
    return spark.createDataFrame(
        rows,
        schema="method string, n_instances long, n_features_ranked long, "
        "ndcg_at_3 double, ndcg_at_5 double, ndcg_at_10 double",
    )


_LC_FRACTIONS = (0.25, 0.5, 1.0)


@register(
    "ml_learning_curve",
    sql=None,  # model training is not SQL-expressible; exact sf0.001
    # confusion counts + scale-independent invariants are pinned in
    # tests/test_rows_only_pins.py — a pinned-value check, not rows-only
    doc="Learning curve for the decision-tree detector: the SAME pipeline "
    "trained on the first 25% / 50% / 100% of the training window, each "
    "fit scored on the SAME fixed holdout — the diagnostic that answers "
    "'will more data help, or is the model capacity-bound?' before "
    "anyone pays for a 4x larger training run. Prefix slices (not random "
    "subsamples) respect the series' temporal order exactly like the "
    "85/15 split itself; the three fits run concurrently like "
    "ml_supervised_e2e's branches. One row per fraction: train size, "
    "confusion counts, F1 (exact integer arithmetic, 4dp).",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    df, cut = _cached_features(spark, sf_dir)

    def branch(frac: float) -> dict:
        sub_cut = int(cut * frac)
        row = _detector_e2e_on(df, sub_cut, "decision_tree").collect()[0]
        d = row.asDict()
        tp, fp, fn = d["tp"], d["fp"], d["fn"]
        f1 = (2.0 * tp) / max(2 * tp + fp + fn, 1)
        return {
            "train_fraction": frac,
            "n_train": sub_cut,
            **d,
            "f1": round(f1, 4),
        }

    with ThreadPoolExecutor(len(_LC_FRACTIONS)) as ex:
        rows = list(ex.map(branch, _LC_FRACTIONS))
    df.unpersist()
    return spark.createDataFrame(
        rows,
        schema="train_fraction double, n_train long, tp long, tn long, "
        "fp long, fn long, n_rows long, f1 double",
    )


_ENSEMBLE = ("threshold", "isolation_forest", "pca_autoencoder")


@register(
    "ml_ensemble_vote",
    sql=None,  # model training is not SQL-expressible; exact sf0.001
    # confusion counts + vote-bound invariants are pinned in
    # tests/test_rows_only_pins.py — a pinned-value check, not rows-only
    doc="Majority-vote ensemble of three detector FAMILIES (statistical "
    "threshold, isolation forest, linear reconstruction) — the cheap "
    "variance-reduction every production detector stack reaches for "
    "before heavier models: a row is flagged when >=2 of 3 agree, which "
    "suppresses each family's idiosyncratic false positives. The three "
    "fits/scores run concurrently over one cached feature frame (the "
    "ml_supervised_e2e pattern); output = per-detector confusion rows "
    "PLUS the ensemble row, so the vote's precision gain is read "
    "directly against its members.",
)
def ml_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    df, cut = _cached_features(spark, sf_dir)
    feats = ["value", "hour"]
    train = df.filter(F.col("id") <= cut)

    def branch(name: str):
        model = get_model(name)
        model.run(train, feats)
        det = model.detect(df, feats).select(
            "id", F.col("predicted").alias(f"p_{name}")
        )
        return name, det

    with ThreadPoolExecutor(len(_ENSEMBLE)) as ex:
        dets = dict(ex.map(branch, _ENSEMBLE))

    scored = df.select("id", "label")
    for name in _ENSEMBLE:
        scored = scored.join(dets[name], "id", "left").withColumn(
            f"p_{name}", F.coalesce(F.col(f"p_{name}"), F.lit(0))
        )
    votes = sum(F.col(f"p_{n}") for n in _ENSEMBLE)
    scored = scored.withColumn("p_ensemble", (votes >= 2).cast("int"))
    # all four confusion matrices in ONE aggregate pass (a per-model
    # _confusion loop would run four actions over the same frame)
    members = list(_ENSEMBLE) + ["ensemble"]
    aggs = [
        c.alias(f"{k}_{name}")
        for name in members
        for k, c in confusion_sums(f"p_{name}", "label").items()
    ]
    aggs.append(F.count(F.lit(1)).cast("long").alias("n_rows"))
    try:
        r = scored.agg(*aggs).collect()[0]
        rows = [
            {
                "model": name,
                "tp": r[f"tp_{name}"],
                "tn": r[f"tn_{name}"],
                "fp": r[f"fp_{name}"],
                "fn": r[f"fn_{name}"],
                "n_rows": r["n_rows"],
            }
            for name in members
        ]
    finally:
        df.unpersist()
    return spark.createDataFrame(
        rows, schema="model string, tp long, tn long, fp long, fn long, n_rows long"
    )
