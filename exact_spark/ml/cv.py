"""Stratified k-fold cross-validation (SURVEY §2.7 note: StratifiedKFold
has no MLlib equivalent — this is the custom stratified splitter).

Fold assignment is an md5 rank WITHIN each label class, so every fold has
~equal class proportions (the StratifiedKFold contract,
XGBoost.py:327-337 / decision_tree.py CV paths) and the assignment is
deterministic under any partitioning — the same property every other
seeded operation in this engine relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark.ml.models import align_predictions
from exact_spark.operators.metrics import evaluate_classification

FOLD_COL = "__fold"


def stratified_kfold(
    df: DataFrame, label_col: str = "label", k: int = 5, seed: int = 42,
    id_col: str = "id",
) -> DataFrame:
    """Add a 0..k-1 fold column, stratified by ``label_col``.

    Rank rows within each class by ``md5(seed || id)`` and deal them
    round-robin: fold = (rank - 1) % k. Class proportions per fold differ
    by at most one row from exact stratification.
    """
    rk = F.md5(F.concat(F.lit(f"cv{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(label_col).orderBy(rk, id_col)
    return df.withColumn(FOLD_COL, ((F.row_number().over(w) - 1) % k).cast("int"))


def cross_validate(
    df: DataFrame,
    model_factory,
    feature_cols: list[str],
    label_col: str = "label",
    k: int = 5,
    seed: int = 42,
) -> list[dict]:
    """Per-fold train/eval (the reference's StratifiedKFold CV loop,
    XGBoost.py:431-470 shape): fit on k-1 folds, score the held-out fold,
    G1/G2 metrics per fold."""
    from concurrent.futures import ThreadPoolExecutor

    par = df.sparkSession.sparkContext.defaultParallelism
    # repartition before caching: the fold window leaves few partitions;
    # every per-fold fit/eval job should run parallel from the cache
    folded = stratified_kfold(df, label_col, k, seed).repartition(min(par, 8)).cache()
    # materialize the cache ONCE before fanning out, so the concurrent
    # fold branches read it instead of racing to build it
    folded.count()

    def one_fold(fold: int) -> dict:
        # each fold's fit/eval is independent of the others, so the k
        # iteration-bound (individually under-parallel) MLlib fits run
        # CONCURRENTLY over the shared cache — the ml_supervised_e2e
        # branch pattern; fold assignment, fits and metrics are
        # deterministic, so the rows are byte-identical to the serial loop
        train = folded.filter(F.col(FOLD_COL) != fold)
        test = folded.filter(F.col(FOLD_COL) == fold)
        model = model_factory()
        model.run(train, feature_cols, label_col)
        scored = align_predictions(test, model.detect(test, feature_cols), label_col)
        [m] = evaluate_classification(scored)
        keep = ("tp", "tn", "fp", "fn", "accuracy", "precision", "recall")
        return {"fold": fold, **{k: m[k] for k in keep}, "f1": m["f1_score"]}

    with ThreadPoolExecutor(k) as ex:
        out = list(ex.map(one_fold, range(k)))
    folded.unpersist()
    return out
