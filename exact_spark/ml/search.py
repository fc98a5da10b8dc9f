"""Hyperparameter search (SURVEY §2.7 M4/M5 contract — the reference's
RandomizedSearchCV path re-expressed Spark-first).

Reference: ``Backend/ML_models/XGBoost.py:83-92`` (default grid — the
n_estimators / learning_rate / max_depth / subsample dimensions map to
MLlib's maxIter / stepSize / maxDepth / subsamplingRate), ``:376-441``
(RandomizedSearchCV fit + ``model_params.update(best_params_)`` refit
mapping) and ``decision_tree.py:353-441`` (scored search with a refit
metric).

Spark-first design:

- **Deterministic random search**: the cartesian grid is enumerated in
  sorted-key order and candidates are ranked by ``md5(seed ||
  json(combo))`` — the same seeded-order trick every other sampled
  operation in this engine uses, so "RandomizedSearch" is reproducible
  under any partitioning and any executor count.
- **TrainValidationSplit semantics on the stratified splitter**: each
  candidate trains on folds != 0 of the md5-stratified k-fold deal
  (``cv.py::stratified_kfold`` — class proportions preserved, the
  StratifiedKFold contract) and is scored by F1 on held-out fold 0. The
  folded frame is computed ONCE and cached; only the (cheap, driver-
  scheduled) MLlib fits repeat per candidate.
- **Per-candidate scale_pos_weight**: the gbt path recomputes class
  weights on its actual training frame inside ``model.run`` —
  XGBoost.py:327-337's per-fold weighting for free.
- **Refit mapping**: the best combo (max F1, deterministic tie-break on
  the param json) is handed back as ``params`` for
  ``MLlibClassifierDetector`` — the ``model_params.update(best_params_)``
  step.
"""

from __future__ import annotations

import hashlib
import itertools
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exact_spark.ml.cv import FOLD_COL, stratified_kfold
from exact_spark.ml.models import align_predictions, get_model
from exact_spark.operators.metrics import evaluate_classification

#: Default grids over the reference's param dimensions, translated to the
#: MLlib names (XGBoost.py:83-92; decision_tree.py search dims).
DEFAULT_GRIDS = {
    "decision_tree": {
        "maxDepth": [3, 5, 8],
        "minInstancesPerNode": [1, 5],
    },
    "gbt": {
        "maxIter": [5, 10],          # n_estimators
        "stepSize": [0.1, 0.3],      # learning_rate
        "maxDepth": [3, 5],          # max_depth
        "subsamplingRate": [0.8, 1.0],  # subsample
    },
}


def enumerate_grid(grid: dict[str, list]) -> list[dict]:
    """Cartesian product of the grid in sorted-key order."""
    keys = sorted(grid)
    return [dict(zip(keys, vals)) for vals in itertools.product(*(grid[k] for k in keys))]


def sample_grid(grid: dict[str, list], n_iter: int, seed: int = 42) -> list[dict]:
    """Seeded random search: md5-rank the full cartesian enumeration and
    take the first ``n_iter`` — deterministic in any environment
    (RandomizedSearchCV's n_iter contract, XGBoost.py:376-384)."""
    combos = enumerate_grid(grid)
    combos.sort(
        key=lambda c: hashlib.md5(
            f"search{seed}:{json.dumps(c, sort_keys=True)}".encode()
        ).hexdigest()
    )
    return combos[:n_iter]


def param_search(
    df: DataFrame,
    algo: str,
    feature_cols: list[str],
    grid: dict[str, list] | None = None,
    n_iter: int = 4,
    k: int = 3,
    seed: int = 42,
    label_col: str = "label",
) -> tuple[dict, list[dict]]:
    """Score ``n_iter`` seeded grid candidates with a stratified train/
    validation split and return ``(best_params, per_candidate_results)``.

    Results rows: {"params": json, "f1": float, "precision": float,
    "recall": float, "selected": bool} ordered by the candidate sample
    order. Best = max F1, ties broken by the params json (deterministic).
    """
    grid = grid if grid is not None else DEFAULT_GRIDS[algo]
    par = df.sparkSession.sparkContext.defaultParallelism
    folded = (
        stratified_kfold(df, label_col, k, seed)
        .repartition(min(par, 8))
        .cache()
    )
    train = folded.filter(F.col(FOLD_COL) != 0)
    heldout = folded.filter(F.col(FOLD_COL) == 0)
    # materialize the cache ONCE before fanning out, so the concurrent
    # candidate branches read it instead of racing to build it
    folded.count()

    def one_candidate(combo: dict) -> dict:
        # candidates are independent: run the (individually under-parallel,
        # iteration-bound) MLlib fits CONCURRENTLY over the shared cache —
        # the ml_supervised_e2e branch pattern; fits and metrics are
        # deterministic, so the rows are byte-identical to the serial loop
        model = get_model(algo, seed=seed, params=combo)
        model.run(train, feature_cols, label_col)
        scored = align_predictions(heldout, model.detect(heldout, feature_cols), label_col)
        [m] = evaluate_classification(scored)
        return {
            "params": json.dumps(combo, sort_keys=True),
            "f1": m["f1_score"],
            "precision": m["precision"],
            "recall": m["recall"],
            "selected": False,
        }

    from concurrent.futures import ThreadPoolExecutor

    combos = sample_grid(grid, n_iter, seed)
    with ThreadPoolExecutor(max(len(combos), 1)) as ex:
        results = list(ex.map(one_candidate, combos))
    folded.unpersist()

    best_i = max(range(len(results)), key=lambda i: (results[i]["f1"], results[i]["params"]))
    results[best_i]["selected"] = True
    return json.loads(results[best_i]["params"]), results
