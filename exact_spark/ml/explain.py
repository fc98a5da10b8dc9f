"""XAI operators (SURVEY.md §2.8) — Spark-native.

The reference orchestrates SHAP/LIME/DiCE over flattened sliding windows
(Backend/XAI_methods/xai_runner.py:310-881). Those libraries are not in
this environment; the engine ships the same *operator surface* with FIVE
model-agnostic explainers run through one pipeline (the reference's
multi-method loop, xai_runner.py:310-881 / xai_factory.py:18-108) — the
three reference algorithms implemented NATIVELY from their papers plus
two extra baselines:

- ``kernelshap``: KernelSHAP (Lundberg & Lee 2017) — Shapley-kernel-
  weighted regression over masked-coalition model evals, exact up to 11
  features, id-seeded sampling beyond (shap's own sampler is
  row-order-dependent; this one is partition-stable like every other
  draw in the engine).
- ``lime``: LIME (Ribeiro et al. 2016) — locality-kernel-weighted ridge
  surrogate over std-scaled perturbations, id-seeded draw.
- ``counterfactual``: DiCE-style (Mothilal et al. 2020) restarted greedy
  counterfactual search — total_CFs=4 diverse counterfactuals per
  instance via per-restart feature-subset masks; importance = count of
  CFs in which the feature changed (xai_runner.py:261-308's exact
  aggregation).
- ``occlusion``: perturb one feature to its training mean, measure the
  model-score delta — the single-feature slice of the masking fan-out.
- ``permutation``: permutation feature importance — break one feature's
  association with the rest by permuting it ACROSS the explained set
  (cyclic shift in id order), measure the score delta.

Explained instances are independent, so they scatter across the cluster
via mapInPandas with the (small) model broadcast, exactly the X1-X3
execution pattern (xai_runner fan-out, ShapExplainer.py batching).

- select_instances  = W3 sampling strategies (utils.py:7-145)
- occlusion_importances / permutation_importances = X1-X3-shape
  per-instance attribution
- aggregate_importances = X6/G7 per-feature mean |score|
  (xai_runner.py:838-868)
- ndcg_at_k / ndcg_ground_truth = G6/X5 ranking-quality evaluation
  (utils.py:284-342, xai_runner.py:101-195)
- model_proba_fn = the M8 model-wrapper contract
  (ML_models/model_wrapper.py:147-242): (N, 2) clipped+renormalized
  probabilities, sigmoid pseudo-proba around the threshold
  (lstm.py:331-388), NaN rows -> neutral 0.5.
"""

from __future__ import annotations

import json
import math
import pathlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exact_spark.operators.inject import AnomalySetting

#: The implemented explainer set — the single source of truth the
#: control plane advertises (engine.py:339-341 enumerates only the
#: explainers that exist).
METHODS = ("occlusion", "permutation", "kernelshap", "lime", "counterfactual", "intgrad")


def select_instances(
    df: DataFrame, strategy: str, n: int, seed: int = 42, label_col: str = "label"
) -> DataFrame:
    """W3 (utils.py:7-145): first_n / random / first_n_anomalies /
    last_n_anomalies / random_anomalies / half_n_half, seeded rng
    re-expressed as md5 order (partition-stable)."""
    rk = F.md5(F.concat(F.lit(f"xai{seed}:"), F.col("id").cast("string")))
    anom = df.filter(F.col(label_col) == 1)
    norm = df.filter(F.col(label_col) == 0)
    if strategy == "first_n":
        return df.orderBy("id").limit(n)
    if strategy == "random":
        return df.withColumn("__rk", rk).orderBy("__rk", "id").limit(n).drop("__rk")
    if strategy == "first_n_anomalies":
        return anom.orderBy("id").limit(n)
    if strategy == "last_n_anomalies":
        return anom.orderBy(F.col("id").desc()).limit(n)
    if strategy == "random_anomalies":
        return anom.withColumn("__rk", rk).orderBy("__rk", "id").limit(n).drop("__rk")
    if strategy == "half_n_half":
        half = n // 2
        return anom.orderBy(F.col("id").desc()).limit(half).unionByName(
            norm.orderBy(F.col("id").desc()).limit(n - half)
        )
    raise KeyError(f"unknown strategy {strategy!r}")


def occlusion_importances(
    model, instances: DataFrame, feature_cols: list[str], train_means: dict[str, float]
) -> DataFrame:
    """Per-instance, per-feature attribution: |score(x) - score(x with
    feature j set to its training mean)|.

    Same distribution shape as X1-X3: instances fan out over the cluster,
    the model state rides in the (by-value) closure. Output rows:
    (id, feature, importance).
    """
    score_fn = _extract_score_fn(model, feature_cols)
    means = np.array([train_means[c] for c in feature_cols])
    cols = list(feature_cols)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x = pdf[cols].to_numpy(dtype=np.float64)
            base = score_fn(x)
            out_ids, out_feats, out_imps = [], [], []
            for j, c in enumerate(cols):
                pert = x.copy()
                pert[:, j] = means[j]
                delta = np.abs(base - score_fn(pert))
                out_ids.extend(pdf["id"].astype("int64"))
                out_feats.extend([c] * len(pdf))
                out_imps.extend(delta)
            yield pd.DataFrame({"id": out_ids, "feature": out_feats, "importance": out_imps})

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)


def permutation_importances(
    model, instances: DataFrame, feature_cols: list[str]
) -> DataFrame:
    """X2/X3-shape per-instance attribution via permutation feature
    importance: |score(x) - score(x with feature j permuted across the
    explained set)|.

    The permutation is a cyclic shift by one in id order — a seeded
    derangement that is identical under any partitioning (every other
    random draw in this engine is id-keyed for the same reason). The
    explained set is small by construction (W3 ``limit n``), so it is
    coalesced into one Arrow batch; with a single instance the shift is
    the identity and importances are correctly zero.
    """
    score_fn = _extract_score_fn(model, feature_cols)
    cols = list(feature_cols)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("id", ignore_index=True)
            x = pdf[cols].to_numpy(dtype=np.float64)
            base = score_fn(x)
            out_ids, out_feats, out_imps = [], [], []
            for j, c in enumerate(cols):
                pert = x.copy()
                pert[:, j] = np.roll(x[:, j], 1)
                delta = np.abs(base - score_fn(pert))
                out_ids.extend(pdf["id"].astype("int64"))
                out_feats.extend([c] * len(pdf))
                out_imps.extend(delta)
            yield pd.DataFrame({"id": out_ids, "feature": out_feats, "importance": out_imps})

    return instances.select("id", *cols).coalesce(1).mapInPandas(explain, schema=schema)


_SHAP_EXACT_MAX_M = 11  # exact 2^M enumeration cap; beyond -> seeded sampling
_SHAP_N_SAMPLES = 2048  # sampled-coalition budget per instance above the cap


def _shapley_kernel_weights(m: int, sizes: np.ndarray) -> np.ndarray:
    """Shapley kernel w(s) = (M-1) / (C(M,s) * s * (M-s)) for interior
    coalition sizes (Lundberg & Lee 2017, thm. 2)."""
    comb = np.array([math.comb(m, int(s)) for s in sizes], dtype=np.float64)
    return (m - 1) / (comb * sizes * (m - sizes))


def _coalition_masks(m: int, instance_id: int) -> tuple[np.ndarray, np.ndarray]:
    """(Z, w): interior coalition indicator matrix + kernel weights.

    m <= _SHAP_EXACT_MAX_M enumerates ALL 2^m - 2 interior coalitions ->
    EXACT Shapley values. Larger m samples a fixed budget with coalition
    sizes drawn from the kernel-mass distribution — seeded by the INSTANCE
    id, so the draw is identical under any partitioning (the engine-wide
    id-keyed randomness rule; shap's own sampler is row-order-dependent).
    """
    if m == 1:
        return np.ones((0, 1)), np.ones(0)
    if m <= _SHAP_EXACT_MAX_M:
        codes = np.arange(1, 2**m - 1, dtype=np.uint64)
        z = ((codes[:, None] >> np.arange(m, dtype=np.uint64)) & 1).astype(np.float64)
        return z, _shapley_kernel_weights(m, z.sum(axis=1))
    rng = np.random.RandomState((instance_id * 2654435761 + 42) % (2**32))
    sizes = np.arange(1, m, dtype=np.float64)
    p = _shapley_kernel_weights(m, sizes) * np.array(
        [math.comb(m, int(s)) for s in sizes]
    )  # kernel mass per SIZE (weight x multiplicity)
    p /= p.sum()
    draw = rng.choice(len(sizes), size=_SHAP_N_SAMPLES, p=p)
    z = np.zeros((_SHAP_N_SAMPLES, m))
    for i, si in enumerate(draw):
        z[i, rng.choice(m, size=int(sizes[si]), replace=False)] = 1.0
    # sampled by kernel mass -> equal residual weights in the WLS
    return z, np.ones(_SHAP_N_SAMPLES)


_SHAP_BG_K = 50  # k-means background summary size (ShapExplainer.py:151)
_SHAP_BG_SAMPLE = 2048  # driver-side raw-background cap before summarizing


def _kmeans_background(
    rows: np.ndarray, k: int = _SHAP_BG_K, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """The reference's background summary (ShapExplainer.py:148-176):
    ``shap.kmeans(bg, k=min(50, n), round_values=False)`` — cluster
    centers weighted by cluster mass. Implemented as seeded numpy Lloyd
    iterations (sklearn is absent; the fixpoint is not). Mirrors the
    reference's gate: only summarize when n > 2k, else use the raw rows
    with uniform weights."""
    n = len(rows)
    k = min(k, n)
    if n <= 2 * k:
        return rows.astype(np.float64), np.full(n, 1.0 / max(n, 1))
    x = rows.astype(np.float64)
    rng = np.random.RandomState(seed)
    centers = x[rng.choice(n, size=k, replace=False)]
    # -1 sentinel: the first iteration can never "converge" before the
    # centers have been updated at least once
    assign = np.full(n, -1, dtype=np.int64)
    for _ in range(25):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        new_assign = d.argmin(axis=1)
        if (new_assign == assign).all():
            break
        assign = new_assign
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
    counts = np.bincount(assign, minlength=k).astype(np.float64)
    keep = counts > 0
    return centers[keep], counts[keep] / counts[keep].sum()


def _kernelshap_single(
    score_fn,
    x: np.ndarray,
    bg: np.ndarray,
    instance_id: int,
    bg_weights: np.ndarray | None = None,
) -> np.ndarray:
    """Exact KernelSHAP for one instance against a WEIGHTED background
    distribution (the reference's k-means summary, ShapExplainer.py:151-157
    — a (K, M) center matrix with cluster-mass weights; a 1-D bg is the
    K=1 degenerate case): for every coalition the masked value is the
    weighted mean of the model over the K background completions, then
    weighted least squares over coalition evaluations with the efficiency
    constraint eliminated by substituting the last feature (the same
    reduction shap's KernelExplainer solves). Efficiency becomes
    sum(phi) = f(x) - E_bg[f]."""
    m = len(x)
    bg2 = bg[None, :] if bg.ndim == 1 else bg
    k = bg2.shape[0]
    bw = (
        np.full(k, 1.0 / k)
        if bg_weights is None
        else np.asarray(bg_weights, dtype=np.float64) / float(np.sum(bg_weights))
    )
    f0 = float(score_fn(bg2) @ bw)
    fx = float(score_fn(x[None, :])[0])
    if m == 1:
        return np.array([fx - f0])
    z, w = _coalition_masks(m, instance_id)
    # masked evals: each coalition completes with ALL K background rows
    # in one (C*K, M) batch; y(z) = weighted mean over the K completions
    c = z.shape[0]
    h = (
        z[:, None, :] * x[None, None, :] + (1.0 - z[:, None, :]) * bg2[None, :, :]
    ).reshape(c * k, m)
    y = score_fn(h).reshape(c, k) @ bw - f0
    # eliminate phi_m via sum(phi) = fx - f0
    z_adj = z[:, :-1] - z[:, -1:]
    y_adj = y - z[:, -1] * (fx - f0)
    sw = np.sqrt(w)[:, None]
    phi_head, *_ = np.linalg.lstsq(z_adj * sw, y_adj * sw[:, 0], rcond=None)
    return np.append(phi_head, (fx - f0) - phi_head.sum())


def kernelshap_importances(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    background: np.ndarray | None = None,
    bg_weights: np.ndarray | None = None,
) -> DataFrame:
    """X1: KernelSHAP (Lundberg & Lee 2017), implemented natively — the
    shap library is absent from this environment but the algorithm is not:
    per instance, evaluate the model on masked feature coalitions (absent
    features completed from the k<=50 cluster-mass-weighted k-means
    background summary, ShapExplainer.py:148-176's shap.kmeans posture)
    and solve the Shapley-kernel-weighted regression for per-feature
    attributions. Exact (full enumeration) up to 11 features; id-seeded
    kernel-mass sampling beyond. Output importance is |phi_j| to match the
    sibling explainers' magnitude contract; the per-coalition model evals
    batch through ONE vectorized score_fn call per instance. When no
    background matrix is supplied, falls back to the training-mean single
    point (k=1).

    Implemented as a PROJECTION of :func:`kernelshap_signed_phis` —
    |phi| == importance is structural (one solver serves both surfaces),
    not merely test-pinned, so the two cannot drift under future edits.
    """
    phis = kernelshap_signed_phis(
        model, instances, feature_cols, train_means, background, bg_weights
    )
    return phis.select("id", "feature", F.abs(F.col("phi")).alias("importance"))


def kernelshap_signed_phis(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    background: np.ndarray | None = None,
    bg_weights: np.ndarray | None = None,
) -> DataFrame:
    """SIGNED per-instance phi values + the additive bookkeeping the
    waterfall plot needs (shap.plots.waterfall consumes an Explanation of
    signed values, base value, and feature data — xai_visualizations.py:
    147-175). Same coalitions and solver as :func:`kernelshap_importances`
    (identical seeds), different projection: (id, feature, phi, value,
    base_value, fx) with sum(phi) = fx - base_value per instance. Same
    broadcast-model mapInPandas fan-out."""
    score_fn = _extract_score_fn(model, feature_cols)
    if background is None:
        bg = np.array([train_means[c] for c in feature_cols], dtype=np.float64)
        bgw = None
    else:
        bg = np.asarray(background, dtype=np.float64)
        bgw = None if bg_weights is None else np.asarray(bg_weights, dtype=np.float64)
    cols = list(feature_cols)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("phi", T.DoubleType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("base_value", T.DoubleType()),
            T.StructField("fx", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bg2 = bg[None, :] if bg.ndim == 1 else bg
        k = bg2.shape[0]
        bw = (
            np.full(k, 1.0 / k)
            if bgw is None
            else np.asarray(bgw, dtype=np.float64) / float(np.sum(bgw))
        )
        f0 = float(score_fn(bg2) @ bw)
        for pdf in it:
            if pdf.empty:
                continue
            x = pdf[cols].to_numpy(dtype=np.float64)
            ids = pdf["id"].astype("int64").to_numpy()
            frames = []
            for i in range(len(pdf)):
                phi = _kernelshap_single(score_fn, x[i], bg, int(ids[i]), bgw)
                fx = float(score_fn(x[i][None, :])[0])
                frames.append(
                    pd.DataFrame(
                        {
                            "id": ids[i],
                            "feature": cols,
                            "phi": phi,
                            "value": x[i],
                            "base_value": f0,
                            "fx": fx,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)


_WATERFALL_MAX_DISPLAY = 10


def render_waterfalls(
    pdf: pd.DataFrame, out_dir, max_display: int = _WATERFALL_MAX_DISPLAY
) -> list[str]:
    """One per-instance signed-phi waterfall SVG under ``out_dir`` from
    already-collected ``kernelshap_signed_phis`` rows — the reference's
    shap.plots.waterfall PNG analog (xai_visualizations.py:147-175;
    matplotlib absent, XML not). Features sort by |phi| descending;
    beyond ``max_display`` they collapse into one 'other features'
    remainder row, preserving the additive walk from E[f(X)] to f(x).
    Takes the collected frame (instance count is the bounded W3
    selection) rather than re-solving, so run_explanations pays ONE
    KernelSHAP coalition enumeration for both the importance aggregation
    and the waterfall artifacts. Returns the written paths."""
    from exact_spark.ml.visualize import svg_waterfall

    paths = []
    for iid, grp in pdf.groupby("id"):
        grp = grp.reindex(
            grp["phi"].abs().sort_values(ascending=False).index
        )
        items = [
            (r["feature"], float(r["phi"]), float(r["value"]))
            for _, r in grp.head(max_display).iterrows()
        ]
        rest = grp.iloc[max_display:]
        if len(rest):
            items.append(
                (f"{len(rest)} other features", float(rest["phi"].sum()), float("nan"))
            )
        svg = svg_waterfall(
            f"SHAP waterfall — instance {int(iid)}",
            float(grp["base_value"].iloc[0]),
            items,
            float(grp["fx"].iloc[0]),
        )
        p = out_dir / f"waterfall_instance_{int(iid)}.svg"
        p.write_text(svg)
        paths.append(str(p))
    return paths


_FORCE_MAX_INSTANCE_PAGES = 16


def render_force_plots(
    pdf: pd.DataFrame,
    out_dir,
    max_display: int = _WATERFALL_MAX_DISPLAY,
    max_instance_pages: int = _FORCE_MAX_INSTANCE_PAGES,
) -> list[str]:
    """The reference's interactive force-plot HTML analog
    (shap.plots.force + shap.save_html, xai_visualizations.py:175-210):
    per-instance force HTML pages plus one all-instances summary page of
    stacked strips, rendered from the SAME collected signed-phi frame as
    the waterfalls (one KernelSHAP solve serves importances, waterfalls,
    and force plots). Browser-interactive JS is out of scope — the
    artifact contract is the additive-force layout (positive stack meets
    negative stack exactly at f(x)) in a self-contained HTML file, byte-
    deterministic like every other emitter. Per-instance pages are
    bounded to the first ``max_instance_pages`` instances (in id order —
    the reference emits only instance 1 plus the all-instances page, so
    emitting one file per instance of a large explain batch would be a
    superset that multiplies small artifacts); EVERY instance
    still gets its strip on the all-instances page. Returns the written
    paths, all-instances page last."""
    from exact_spark.ml.visualize import html_force_page, svg_force_strip

    paths = []
    strips = []
    for iid, grp in pdf.groupby("id"):
        grp = grp.reindex(grp["phi"].abs().sort_values(ascending=False).index)
        items = [
            (r["feature"], float(r["phi"]), float(r["value"]))
            for _, r in grp.head(max_display).iterrows()
        ]
        rest = grp.iloc[max_display:]
        if len(rest):
            items.append(
                (f"{len(rest)} other features", float(rest["phi"].sum()), float("nan"))
            )
        base = float(grp["base_value"].iloc[0])
        fx = float(grp["fx"].iloc[0])
        title = f"SHAP force — instance {int(iid)}"
        strip = svg_force_strip(title, base, items, fx, standalone=False)
        if len(strips) < max_instance_pages:
            p = out_dir / f"force_instance_{int(iid)}.html"
            p.write_text(html_force_page(title, [strip]))
            paths.append(str(p))
        strips.append(strip)
    all_page = html_force_page("SHAP force — all instances", strips)
    pa = out_dir / "force_all_instances.html"
    pa.write_text(all_page)
    paths.append(str(pa))
    return paths


_LIME_N_SAMPLES = 512
_LIME_RIDGE_ALPHA = 1.0


def lime_importances(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    train_stds: dict[str, float],
) -> DataFrame:
    """X2: LIME for tabular data (Ribeiro et al. 2016), implemented
    natively — the lime library is absent, the algorithm is not: per
    instance, sample perturbations around x scaled by the TRAINING
    feature stds, weight them by the exponential locality kernel
    exp(-d^2 / kw^2) with the library's default kw = 0.75 * sqrt(M) on
    the standardized space, and fit a weighted ridge surrogate of the
    model score; importance_j = |coef_j|. The perturbation draw is
    instance-id-seeded (lime's own sampler is global-RNG-order-dependent;
    this one is partition-stable)."""
    score_fn = _extract_score_fn(model, feature_cols)
    stds = np.array([train_stds[c] for c in feature_cols], dtype=np.float64)
    cols = list(feature_cols)
    m_feats = len(cols)
    kw2 = (0.75 * math.sqrt(m_feats)) ** 2

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x = pdf[cols].to_numpy(dtype=np.float64)
            ids = pdf["id"].astype("int64").to_numpy()
            out_ids, out_feats, out_imps = [], [], []
            for i in range(len(pdf)):
                rng = np.random.RandomState(
                    (int(ids[i]) * 2654435761 + 77) % (2**32)
                )
                z_std = rng.randn(_LIME_N_SAMPLES, m_feats)
                z = x[i][None, :] + z_std * stds[None, :]
                w = np.exp(-(z_std**2).sum(axis=1) / kw2)
                y = score_fn(z)
                # weighted ridge on the standardized design (+ intercept)
                a = np.hstack([z_std, np.ones((_LIME_N_SAMPLES, 1))])
                aw = a * w[:, None]
                gram = a.T @ aw + _LIME_RIDGE_ALPHA * np.eye(m_feats + 1)
                beta = np.linalg.solve(gram, a.T @ (w * y))
                out_ids.extend([ids[i]] * m_feats)
                out_feats.extend(cols)
                out_imps.extend(np.abs(beta[:m_feats]))
            yield pd.DataFrame({"id": out_ids, "feature": out_feats, "importance": out_imps})

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)


_CF_MAX_STEPS = 60
_CF_STEP = 0.25  # fraction of the remaining gap to the mean per move
_CF_TOTAL = 4  # counterfactuals per instance (the reference's total_CFs=4,
#                execute_calls.py:716 / xai_runner.py:476)
_CF_VARY_P = 0.7  # per-restart feature-subset inclusion probability


def _greedy_flip(
    score_fn,
    x_start: np.ndarray,
    means: np.ndarray,
    stds: np.ndarray,
    thr: float,
    allowed: np.ndarray,
    above0: bool,
    lo: np.ndarray | None = None,
    hi: np.ndarray | None = None,
) -> tuple[np.ndarray, bool]:
    """One greedy coordinate walk from ``x_start`` toward the training
    mean, restricted to the ``allowed`` feature mask (and, when given,
    clamped into the per-feature [lo, hi] permitted range — the
    reference's ``permitted_range`` runtime arg), until the model's
    decision differs from ``above0``. Returns (endpoint, flipped)."""
    m_feats = len(x_start)
    x = x_start.copy()
    flipped = False
    for _ in range(_CF_MAX_STEPS):
        s = float(score_fn(x[None])[0])
        if (s > thr) != above0:
            flipped = True
            break
        cand = np.tile(x, (m_feats, 1))
        step = _CF_STEP * (means - x) * allowed
        if lo is not None:
            # range-clamp the ALLOWED moves only: without the mask a
            # disallowed feature starting outside [lo, hi] would get a
            # clamp-back pseudo-move evaluated every iteration
            step = (np.clip(x + step, lo, hi) - x) * allowed
        cand[np.arange(m_feats), np.arange(m_feats)] += step
        sc = score_fn(cand)
        gain = (sc - s) * (-1.0 if above0 else 1.0)
        denom = np.abs(step) / stds + 1e-12
        gain = np.where(allowed > 0, gain, -np.inf)
        j = int(np.argmax(gain / denom))
        if not np.isfinite(gain[j]) or step[j] == 0.0 or gain[j] <= 0.0:
            break  # no allowed move helps; stop early
        x[j] += step[j]
    if not flipped:
        # the move made in the LAST budgeted iteration was never tested by
        # the loop-top check — a walk that crosses exactly on its final
        # step is still a valid counterfactual
        flipped = (float(score_fn(x[None])[0]) > thr) != above0
    return x, flipped


def _cf_restart_mask(
    instance_id: int, restart: int, user_mask: np.ndarray
) -> np.ndarray:
    """The per-restart ``features_to_vary`` subset — ONE implementation
    shared by counterfactual_importances and counterfactual_examples so
    the emitted CF rows are provably the same walks the importance counts
    came from (same seed formula, same subset draw, same empty-mask
    rescue)."""
    m_feats = len(user_mask)
    rng = np.random.RandomState(
        (instance_id * 2654435761 + 101 * restart + 13) % (2**32)
    )
    if restart == 0:
        return user_mask.copy()
    allowed = (rng.rand(m_feats) < _CF_VARY_P).astype(np.float64) * user_mask
    if allowed.sum() == 0:
        varyable = np.flatnonzero(user_mask)
        allowed[varyable[rng.randint(len(varyable))]] = 1.0
    return allowed


def _distinct_cf_walks(
    score_fn,
    orig: np.ndarray,
    means: np.ndarray,
    stds: np.ndarray,
    thr: float,
    above0: bool,
    user_mask: np.ndarray,
    rng_lo: np.ndarray | None,
    rng_hi: np.ndarray | None,
    total_cfs: int,
    instance_id: int,
) -> tuple[list[tuple[int, np.ndarray]], np.ndarray | None]:
    """All flipped, DEDUPLICATED counterfactual endpoints for one instance
    (plus restart 0's unflipped endpoint for the movement fallback). Two
    restarts with different feature-subset masks can converge to the same
    endpoint; the reference aggregates over dice's deduplicated CF set
    (xai_runner.py:261-308), so a repeated endpoint must not increment the
    per-feature change counts twice. ONE implementation shared by
    counterfactual_importances and counterfactual_examples, so the emitted
    CF rows are provably the exact set the counts came from."""
    flips: list[tuple[int, np.ndarray]] = []
    fallback_end: np.ndarray | None = None
    for r in range(total_cfs):
        allowed = _cf_restart_mask(instance_id, r, user_mask)
        end, flipped = _greedy_flip(
            score_fn, orig, means, stds, thr, allowed, above0, rng_lo, rng_hi
        )
        if flipped:
            if any(np.allclose(end, prev) for _, prev in flips):
                continue
            flips.append((r, end))
        elif r == 0:
            fallback_end = end
    return flips, fallback_end


def _cf_constraints(
    cols: list[str],
    features_to_vary: list[str] | None,
    permitted_range: dict[str, tuple[float, float]] | None,
) -> tuple[np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Resolve the reference's DiCE runtime args (DiceExplainer.py:259-305)
    into a user feature mask + per-feature range bounds."""
    if features_to_vary:
        unknown = set(features_to_vary) - set(cols)
        if unknown:
            raise KeyError(f"features_to_vary not in feature_cols: {sorted(unknown)}")
        user_mask = np.array(
            [1.0 if c in set(features_to_vary) else 0.0 for c in cols]
        )
    else:
        user_mask = np.ones(len(cols))
    if permitted_range:
        lo = np.array(
            [permitted_range.get(c, (-np.inf, np.inf))[0] for c in cols],
            dtype=np.float64,
        )
        hi = np.array(
            [permitted_range.get(c, (-np.inf, np.inf))[1] for c in cols],
            dtype=np.float64,
        )
        return user_mask, lo, hi
    return user_mask, None, None


def counterfactual_importances(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    train_stds: dict[str, float],
    features_to_vary: list[str] | None = None,
    permitted_range: dict[str, tuple[float, float]] | None = None,
    total_cfs: int = _CF_TOTAL,
) -> DataFrame:
    """X3: DiCE-style counterfactual attribution (Mothilal et al. 2020 —
    dice_ml is absent, the search is not): per instance, generate up to
    ``total_CFs=4`` DIVERSE counterfactuals (DiceExplainer.py:243-321's
    runtime contract) via restarted greedy walks toward the training mean
    — restart 0 searches over ALL features; each later restart may vary
    only an instance+restart-seeded ~70% feature subset (the
    ``features_to_vary`` expansion, DiceExplainer.py:259-283, used here
    as the diversity mechanism: different allowed sets force different
    flips; walks start AT the instance so a counterfactual differs from
    it exactly in the features the walk moved). Importance aggregates
    exactly as the reference does
    (xai_runner.py:261-308): per feature, the COUNT of DISTINCT
    counterfactuals in which that feature changed (``~np.isclose`` vs the
    original; restarts converging to the same endpoint are deduplicated
    like dice's cf set), so scores live in {0..4}. Instances where no restart flips fall back to
    the full-budget walk's standardized movement (scaled below 1 so a
    no-flip instance never outranks a real counterfactual's count).
    ``features_to_vary`` restricts every restart's search space to the
    named features and ``permitted_range`` clamps each feature's walk
    into [lo, hi] — DiceExplainer.py:259-305's runtime contract."""
    score_fn = _extract_score_fn(model, feature_cols)
    thr = float(getattr(model, "thr", 0.0) or 0.0)
    means = np.array([train_means[c] for c in feature_cols], dtype=np.float64)
    stds = np.array([train_stds[c] for c in feature_cols], dtype=np.float64)
    cols = list(feature_cols)
    m_feats = len(cols)
    user_mask, rng_lo, rng_hi = _cf_constraints(cols, features_to_vary, permitted_range)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x0 = pdf[cols].to_numpy(dtype=np.float64)
            ids = pdf["id"].astype("int64").to_numpy()
            out_ids, out_feats, out_imps = [], [], []
            for i in range(len(pdf)):
                orig = x0[i]
                above0 = float(score_fn(orig[None])[0]) > thr
                flips, fb_end = _distinct_cf_walks(
                    score_fn, orig, means, stds, thr, above0, user_mask,
                    rng_lo, rng_hi, total_cfs, int(ids[i]),
                )
                if flips:
                    counts = np.zeros(m_feats)
                    for _r, end in flips:
                        counts += (~np.isclose(end, orig)).astype(np.float64)
                    imp = counts
                else:
                    # never flipped: rank by required movement, bounded
                    # under 1.0 so it cannot outrank any real CF count
                    fb = (
                        np.abs(fb_end - orig) / stds
                        if fb_end is not None
                        else np.zeros(m_feats)
                    )
                    imp = 0.99 * fb / (fb.max() + 1e-12)
                out_ids.extend([ids[i]] * m_feats)
                out_feats.extend(cols)
                out_imps.extend(imp)
            yield pd.DataFrame({"id": out_ids, "feature": out_feats, "importance": out_imps})

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)




def counterfactual_examples(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    train_stds: dict[str, float],
    features_to_vary: list[str] | None = None,
    permitted_range: dict[str, tuple[float, float]] | None = None,
    total_cfs: int = _CF_TOTAL,
) -> DataFrame:
    """The X7 DiCE artifact surface (xai_visualizations.py:253-397's
    original-vs-counterfactual table): per explained instance, the
    original row plus every flipped counterfactual the restarted greedy
    search found (same walks as counterfactual_importances — identical
    seeds, so the examples ARE the counted CFs). Rows:
    (id, cf_index, type, <feature values...>) with cf_index = -1 for the
    original; distributed over the same broadcast-model mapInPandas
    fan-out."""
    score_fn = _extract_score_fn(model, feature_cols)
    thr = float(getattr(model, "thr", 0.0) or 0.0)
    means = np.array([train_means[c] for c in feature_cols], dtype=np.float64)
    stds = np.array([train_stds[c] for c in feature_cols], dtype=np.float64)
    cols = list(feature_cols)
    m_feats = len(cols)
    user_mask, rng_lo, rng_hi = _cf_constraints(cols, features_to_vary, permitted_range)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cf_index", T.IntegerType()),
            T.StructField("type", T.StringType()),
        ]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            x0 = pdf[cols].to_numpy(dtype=np.float64)
            ids = pdf["id"].astype("int64").to_numpy()
            rows = []
            for i in range(len(pdf)):
                orig = x0[i]
                above0 = float(score_fn(orig[None])[0]) > thr
                rows.append([int(ids[i]), -1, "original", *orig.tolist()])
                flips, _fb = _distinct_cf_walks(
                    score_fn, orig, means, stds, thr, above0, user_mask,
                    rng_lo, rng_hi, total_cfs, int(ids[i]),
                )
                for r, end in flips:
                    rows.append(
                        [int(ids[i]), r, "counterfactual", *end.tolist()]
                    )
            yield pd.DataFrame(rows, columns=["id", "cf_index", "type", *cols])

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)


def intgrad_importances(
    model,
    instances: DataFrame,
    feature_cols: list[str],
    train_means: dict[str, float],
    train_stds: dict[str, float],
    n_steps: int = 16,
) -> DataFrame:
    """Integrated gradients (Sundararajan et al. 2017), model-agnostic via
    central finite differences: attribution_j = (x_j - b_j) * mean over the
    straight-line path from the training-mean baseline b to x of
    d score / d x_j (midpoint Riemann sum, 16 path points). Satisfies
    completeness up to quadrature error: sum_j attr_j ~ score(x) -
    score(b) (axiom-tested). Output importance is |attr_j| to match the
    sibling explainers' magnitude contract. Per instance the path x
    feature evals batch into ONE vectorized score_fn call of
    2 * n_steps * F rows — same broadcast-model mapInPandas fan-out as
    X1-X3.
    """
    score_fn = _extract_score_fn(model, feature_cols)
    means = np.array([train_means[c] for c in feature_cols], dtype=np.float64)
    stds = np.array([train_stds[c] for c in feature_cols], dtype=np.float64)
    cols = list(feature_cols)
    m = len(cols)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("importance", T.DoubleType()),
        ]
    )

    def explain(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        h = np.maximum(stds, 1e-6) * 1e-3  # per-feature step
        alphas = (np.arange(n_steps) + 0.5) / n_steps  # midpoint rule
        for pdf in it:
            if pdf.empty:
                continue
            x0 = pdf[cols].to_numpy(dtype=np.float64)
            ids = pdf["id"].astype("int64").to_numpy()
            out_ids, out_feats, out_imps = [], [], []
            for i in range(len(pdf)):
                x = x0[i]
                # path points: (n_steps, F)
                path = means[None, :] + alphas[:, None] * (x - means)[None, :]
                # perturbed batch: for each path point and feature, +/- h
                plus = np.repeat(path, m, axis=0)
                minus = plus.copy()
                idx = np.tile(np.arange(m), n_steps)
                plus[np.arange(n_steps * m), idx] += h[idx]
                minus[np.arange(n_steps * m), idx] -= h[idx]
                sc = score_fn(np.vstack([plus, minus]))
                grads = (sc[: n_steps * m] - sc[n_steps * m :]) / (2.0 * h[idx])
                avg_grad = grads.reshape(n_steps, m).mean(axis=0)
                attr = (x - means) * avg_grad
                out_ids.extend([ids[i]] * m)
                out_feats.extend(cols)
                out_imps.extend(np.abs(attr))
            yield pd.DataFrame({"id": out_ids, "feature": out_feats, "importance": out_imps})

    return instances.select("id", *cols).mapInPandas(explain, schema=schema)


_IMPORTANCE_FNS = {
    "occlusion": lambda model, inst, cols, means, stds, bg=None: occlusion_importances(
        model, inst, cols, means
    ),
    "permutation": lambda model, inst, cols, means, stds, bg=None: permutation_importances(
        model, inst, cols
    ),
    "kernelshap": lambda model, inst, cols, means, stds, bg=None: kernelshap_importances(
        model,
        inst,
        cols,
        means,
        background=None if bg is None else bg[0],
        bg_weights=None if bg is None else bg[1],
    ),
    "lime": lambda model, inst, cols, means, stds, bg=None: lime_importances(
        model, inst, cols, means, stds
    ),
    "counterfactual": lambda model, inst, cols, means, stds, bg=None: counterfactual_importances(
        model, inst, cols, means, stds
    ),
    "intgrad": lambda model, inst, cols, means, stds, bg=None: intgrad_importances(
        model, inst, cols, means, stds
    ),
}


def model_proba_fn(model, feature_cols: list[str], scale_factor: float = 4.0):
    """M8: the reference's XAI model-wrapper ``predict_proba`` contract
    (ML_models/model_wrapper.py:147-242) as a picklable ndarray->(N, 2)
    closure.

    - P(anomaly) = sigmoid((score - threshold) / max(threshold/scale, 1e-9))
      — the sigmoid-around-threshold pseudo-probability of lstm.py:331-388
      (``proba_scale_factor`` default 4.0).
    - Rows with NaN/Inf scores get neutral (0.5, 0.5)
      (model_wrapper.py:180-186).
    - Output is clipped to [0, 1] and row-renormalized
      (model_wrapper.py:227-231); empty input -> shape (0, 2).
    - Models without an extractable score function (MLlib JVM models)
      return neutral probabilities, mirroring model_wrapper.py:167-170's
      no-predict_proba fallback.
    """
    thr = getattr(model, "thr", None)
    try:
        score_fn = _extract_score_fn(model, feature_cols)
    except TypeError:
        score_fn = None

    def proba(x: np.ndarray) -> np.ndarray:
        n = x.shape[0] if x.ndim > 0 else 0
        if n == 0:
            return np.empty((0, 2), dtype=np.float64)
        if score_fn is None or thr is None or not np.isfinite(thr):
            return np.full((n, 2), 0.5)
        scores = np.asarray(score_fn(x), dtype=np.float64)
        scale = max(thr / scale_factor, 1e-9)
        z = np.clip((scores - thr) / scale, -500, 500)
        p1 = 1.0 / (1.0 + np.exp(-z))
        out = np.vstack([1.0 - p1, p1]).T
        bad = ~np.isfinite(out).all(axis=1)
        out[bad] = 0.5
        np.clip(out, 0.0, 1.0, out=out)
        sums = out.sum(axis=1, keepdims=True)
        sums[sums < 1e-9] = 1.0
        return out / sums

    return proba


def _extract_score_fn(model, feature_cols: list[str]):
    """Pull a picklable ndarray->scores closure out of a DetectorModel."""
    from exact_spark.ml.models import (
        EncoderOneClassDetector,
        IsolationForestDetector,
        MLPAutoencoderDetector,
        PCAReconstructionDetector,
        ThresholdDetector,
    )

    if isinstance(model, EncoderOneClassDetector):
        return model._score_fn()

    if isinstance(model, MLPAutoencoderDetector):
        lo, rng_ = model.lo, model.rng_
        w1, b1, w2, b2 = model.w1, model.b1, model.w2, model.b2

        def fn(x):
            xs = (x - lo) / rng_
            h = np.tanh(xs @ w1 + b1)
            return ((xs - (h @ w2 + b2)) ** 2).mean(axis=1)

        return fn

    if isinstance(model, ThresholdDetector):
        j = 0

        def fn(x):
            return x[:, j]

        return fn
    if isinstance(model, PCAReconstructionDetector):
        mean, std, comp = model.mean, model.std, model.components

        def fn(x):
            z = (x - mean) / std
            return ((z - z @ comp.T @ comp) ** 2).mean(axis=1)

        return fn
    if isinstance(model, IsolationForestDetector):
        # the detector's own by-value scoring closure (vectorized over
        # trees x rows) is already picklable without exact_spark imports
        return model._score_closure(None)

    from exact_spark.ml.models import (
        NativeXGBoostDetector,
        RecurrentAutoencoderDetector,
    )

    if isinstance(model, NativeXGBoostDetector):
        return model._score_closure()  # P(anomaly), picklable tree arrays
    if isinstance(model, RecurrentAutoencoderDetector):
        lo, rng_, params = model.lo, model.rng_, model.params
        forward = model._forward

        def fn(x):
            xs = ((x - lo) / rng_).astype(params[0].dtype)
            rec = forward(xs, params)
            return ((xs - rec) ** 2).mean(axis=1, dtype=np.float64)

        return fn
    raise TypeError(
        f"no picklable score function for {type(model).__name__}; "
        "MLlib models are explained via their own featureImportances"
    )


def aggregate_importances(imps: DataFrame) -> DataFrame:
    """X6/G7 (xai_runner.py:838-868): per-feature mean score across
    instances, descending."""
    return (
        imps.groupBy("feature")
        .agg(F.avg("importance").alias("mean_abs_importance"))
        .orderBy(F.col("mean_abs_importance").desc(), F.col("feature"))
    )


def ndcg_at_k(ranking: list[str], relevant: set[str], k: int) -> float:
    """G6 (utils.py:284-342): DCG with rel_i/log2(i+2) over the top-k
    ranked features vs. binary ground-truth relevance; 0.0 when no ground
    truth (utils.py:309-310)."""
    if not relevant:
        return 0.0
    dcg = sum(
        (1.0 if f in relevant else 0.0) / math.log2(i + 2)
        for i, f in enumerate(ranking[:k])
    )
    idcg = sum(1.0 / math.log2(i + 2) for i in range(min(k, len(relevant))))
    return dcg / idcg if idcg else 0.0


def ndcg_ground_truth(
    instance_epochs: dict[int, float],
    settings: list[AnomalySetting],
    start_epoch: float,
) -> dict[int, set[str]]:
    """X5 (xai_runner.py:101-195): an explained instance matches a setting
    when its timestamp falls in [start+offset, +duration); relevant
    features are that setting's columns."""
    out: dict[int, set[str]] = {}
    for iid, ts in instance_epochs.items():
        rel: set[str] = set()
        for s in settings:
            t0 = start_epoch + s.timestamp
            if t0 <= ts < t0 + s.duration and s.columns:
                rel |= set(s.columns)
        out[iid] = rel
    return out


def run_explanations(
    model,
    df: DataFrame,
    feature_cols: list[str],
    settings: list[AnomalySetting],
    start_epoch: float,
    strategy: str = "random_anomalies",
    n_instances: int = 20,
    k_values: tuple[int, ...] = (3, 5, 10),
    seed: int = 42,
    methods: tuple[str, ...] = METHODS,
    output_dir: str | None = None,
    job_name: str = "xai",
) -> dict:
    """XAIRunner.run_explanations (xai_runner.py:310-881) condensed: select
    instances once (W3), then PER METHOD — the reference's multi-explainer
    loop — per-instance attribution, X6 aggregation, G6 NDCG@k against the
    injection ground truth, per-method timing (execute_calls.py:897-900).

    When ``output_dir`` is given, writes the frontend-contract sidecar
    ``<output_dir>/<job_name>/aggregated_feature_importances.json``
    ({method: {feature: mean |importance|}}, xai_runner.py:858-868).
    """
    import time

    stat_row = df.agg(
        *[F.avg(c).alias(f"m_{c}") for c in feature_cols],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in feature_cols],
    ).collect()[0]
    train_means = {c: stat_row[f"m_{c}"] for c in feature_cols}
    train_stds = {
        c: (stat_row[f"s_{c}"] if stat_row[f"s_{c}"] else 1.0) for c in feature_cols
    }
    # KernelSHAP background: a bounded id-seeded uniform sample of the
    # training frame (the reference caps raw background at MAX_BG_SAMPLES
    # uniform rows, xai_runner.py:20,356-363; this driver-side sample is
    # the same posture at explainer scale) summarized to k<=50 cluster
    # centers weighted by cluster mass (shap.kmeans, ShapExplainer.py:
    # 148-176).
    bg = None
    if "kernelshap" in methods:  # the summary is a SHAP-only cost
        bg_sample = np.array(
            [
                [r[c] for c in feature_cols]
                for r in df.select("id", *feature_cols)
                .withColumn(
                    "__rk",
                    F.md5(
                        F.concat(F.lit(f"shapbg{seed}:"), F.col("id").cast("string"))
                    ),
                )
                .orderBy("__rk")
                .limit(_SHAP_BG_SAMPLE)
                .collect()
            ],
            dtype=np.float64,
        )
        if len(bg_sample):
            bg = _kmeans_background(bg_sample, seed=seed)
    instances = select_instances(df, strategy, n_instances, seed=seed).cache()
    try:
        inst_rows = instances.select("id", F.col("timestamp").cast("double").alias("ep")).collect()
        truth = ndcg_ground_truth({r["id"]: r["ep"] for r in inst_rows}, settings, start_epoch)
        relevant = set().union(*truth.values()) if truth else set()

        per_method: dict[str, dict] = {}
        shap_signed = None  # collected once, reused for the waterfall artifacts
        for m in methods:
            if m not in _IMPORTANCE_FNS:
                raise KeyError(f"unknown XAI method {m!r}; implemented: {METHODS}")
            t0 = time.perf_counter()
            if m == "kernelshap" and output_dir is not None:
                # one KernelSHAP solve serves both surfaces: the waterfall
                # artifacts need signed phis, and importance is exactly |phi|
                # (parity test-pinned) — never pay the coalition enumeration
                # twice
                shap_signed = kernelshap_signed_phis(
                    model, instances, feature_cols, train_means,
                    None if bg is None else bg[0],
                    None if bg is None else bg[1],
                ).toPandas()
                imps = df.sparkSession.createDataFrame(
                    shap_signed[["id", "feature"]].assign(
                        importance=shap_signed["phi"].abs()
                    ),
                    # explicit schema: inference fails on an empty selection
                    schema="id long, feature string, importance double",
                )
            else:
                imps = _IMPORTANCE_FNS[m](
                    model, instances, feature_cols, train_means, train_stds, bg
                )
            agg = aggregate_importances(imps).collect()
            ranking = [r["feature"] for r in agg]
            per_method[m] = {
                "aggregated_feature_importances": {
                    r["feature"]: r["mean_abs_importance"] for r in agg
                },
                **{
                    f"ndcg_at_{k}": round(ndcg_at_k(ranking, relevant, k), 4)
                    for k in k_values
                },
                f"execution_time_xai_{m}_seconds": round(time.perf_counter() - t0, 3),
            }

        summary = {
            "methods": list(methods),
            "n_instances": len(inst_rows),
            "per_method": per_method,
        }
        if output_dir is not None:
            from exact_spark.ml.visualize import svg_bar_chart

            out = pathlib.Path(output_dir) / job_name
            out.mkdir(parents=True, exist_ok=True)
            sidecar = out / "aggregated_feature_importances.json"
            sidecar.write_text(
                json.dumps(
                    {m: r["aggregated_feature_importances"] for m, r in per_method.items()},
                    indent=4,
                )
            )
            summary["aggregated_feature_importances_path"] = str(sidecar)
            # X7 visual artifacts: one importance bar chart per method, as
            # native SVG (xai_visualizations.py:12-397's summary plots;
            # matplotlib is absent, XML is not)
            # X7 DiCE artifact: one original-vs-counterfactuals CSV per
            # explained instance (xai_visualizations.py:253-397's
            # counterfactuals_instance_{i}.csv layout: feature columns + a
            # 'type' column distinguishing the original row from its CFs)
            # X7 SHAP artifact: one signed-phi waterfall SVG per explained
            # instance (shap.plots.waterfall, xai_visualizations.py:147-175),
            # rendered from the SAME solve that produced the importances
            if shap_signed is not None:
                shap_dir = out / "SHAP"
                shap_dir.mkdir(exist_ok=True)
                summary["shap_waterfall_paths"] = render_waterfalls(
                    shap_signed, shap_dir
                )
                # X7 SHAP force-plot HTML analog (shap.plots.force +
                # save_html, xai_visualizations.py:175-210): per-instance
                # pages + the all-instances summary, same single solve
                summary["shap_force_paths"] = render_force_plots(
                    shap_signed, shap_dir
                )
            if "counterfactual" in methods:
                dice_dir = out / "DiCE"
                dice_dir.mkdir(exist_ok=True)
                cf_pdf = counterfactual_examples(
                    model, instances, feature_cols, train_means, train_stds
                ).toPandas()
                for iid, grp in cf_pdf.groupby("id"):
                    grp.drop(columns=["id"]).to_csv(
                        dice_dir / f"counterfactuals_instance_{int(iid)}.csv",
                        index=False,
                    )
                summary["dice_artifact_dir"] = str(dice_dir)
            plots = out / "plots"
            plots.mkdir(exist_ok=True)
            plot_paths = []
            for m, r in per_method.items():
                agg = r["aggregated_feature_importances"]
                svg = svg_bar_chart(
                    f"Aggregated feature importances — {m}",
                    list(agg.keys()),
                    list(agg.values()),
                )
                p = plots / f"feature_importances_{m}.svg"
                p.write_text(svg)
                plot_paths.append(str(p))
            summary["plot_paths"] = plot_paths
    finally:
        # unpersist even when an artifact write throws (full disk,
        # unwritable path) — but only after the artifact passes in the
        # happy path: the DiCE CSV fan-out re-reads the bounded W3
        # selection, and dropping the cache earlier would recompute
        # the full md5-ranked instance scan for it
        instances.unpersist()
    return summary
