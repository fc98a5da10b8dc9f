"""Detection models (SURVEY.md §2.7, M1-M6) — Spark-native.

Every model implements the reference's ModelInterface contract
(Backend/ML_models/model_interface.py:3-13): ``run(train_df)`` trains,
``detect(df)`` returns per-row verdicts. Factory mirrors
Backend/ML_models/get_model.py:7-41.

Environment note: sklearn/TF/XGBoost are not available here, so the
unsupervised models are implemented natively on numpy and scored with the
broadcast-model pattern the SURVEY prescribes for M1-M3: train driver-side
on a capped deterministic sample, broadcast the (small) model state, score
distributedly via Arrow-batched ``mapInPandas`` — the same plumbing a
Keras/sklearn model would use, with the model object swapped.

- ``pca_autoencoder``  — M1/M3 shape: linear autoencoder (top-k principal
  components), anomaly = reconstruction error > P95 of training errors
  (threshold semantics of lstm.py:151-167)
- ``isolation_forest`` — M2: native numpy isolation forest
  (n_estimators=100, subsample 256), score = 2^(-E[h]/c(n)), threshold at
  the (1-contamination) quantile of training scores
- ``decision_tree`` / ``logistic_regression`` / ``linear_svc`` — M5/M6 on
  pyspark.ml Pipelines (scaler + classifier), fully distributed
- ``threshold`` — the P95 statistical detector (G5) as a degenerate model
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRAIN_SAMPLE_CAP = 250_000  # mirrors MAX_BG_SAMPLES (xai_runner.py:20)


def _collect_train_matrix(train: DataFrame, feature_cols: list[str]) -> np.ndarray:
    """Deterministic capped driver-side sample (ordered by id)."""
    pdf = (
        train.select("id", *feature_cols)
        .orderBy("id")
        .limit(TRAIN_SAMPLE_CAP)
        .toPandas()
    )
    return pdf[feature_cols].to_numpy(dtype=np.float64)


def _score_map_in_pandas(df: DataFrame, feature_cols: list[str], score_fn, thr: float,
                         higher_is_anomaly: bool = True) -> DataFrame:
    """Broadcast-model distributed scoring: Arrow batches in, (id, score,
    predicted) out. ``score_fn`` is a picklable closure over the trained
    model state."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("predicted", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            x = pdf[feature_cols].to_numpy(dtype=np.float64)
            s = score_fn(x)
            pred = (s > thr) if higher_is_anomaly else (s < thr)
            yield pd.DataFrame(
                {"id": pdf["id"].astype("int64"), "score": s, "predicted": pred.astype("int32")}
            )

    return df.select("id", *feature_cols).mapInPandas(batches, schema=schema)


def align_predictions(df: DataFrame, det: DataFrame, label_col: str = "label") -> DataFrame:
    """P13 (execute_calls.py:653-690): ``(label, predicted)`` for every row
    of ``df``. ``det`` is a detector's ``(id, ..., predicted)`` output; a row
    it did not score, such as a sequence model's warm-up rows, counts as
    predicted 0."""
    return df.select("id", label_col).join(det.select("id", "predicted"), "id", "left").select(
        F.col(label_col).alias("label"),
        F.coalesce(F.col("predicted"), F.lit(0)).alias("predicted"),
    )


class DetectorModel:
    """ModelInterface (model_interface.py:3-13)."""

    def run(self, train: DataFrame, feature_cols: list[str], label_col: str = "label") -> None:
        raise NotImplementedError

    def detect(self, df: DataFrame, feature_cols: list[str]) -> DataFrame:
        """Returns (id, score, predicted)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
class ThresholdDetector(DetectorModel):
    """Degenerate statistical model: anomaly = feature > P95 of training
    values (the G5 threshold shape)."""

    def __init__(self, percentile: float = 0.95):
        self.percentile = percentile
        self.thr: float | None = None

    def run(self, train, feature_cols, label_col="label"):
        c = feature_cols[0]
        self.thr = float(
            train.agg(F.percentile(F.col(c), F.lit(self.percentile)).alias("t")).collect()[0]["t"]
        )

    def detect(self, df, feature_cols):
        c = feature_cols[0]
        return df.select(
            "id",
            F.col(c).cast("double").alias("score"),
            (F.col(c) > F.lit(self.thr)).cast("int").alias("predicted"),
        )


# ---------------------------------------------------------------------------
class PCAReconstructionDetector(DetectorModel):
    """M1/M3 shape: standardize -> project on top-k principal components ->
    reconstruction MSE; threshold = P95 of training errors
    (lstm.py:151-167's percentile-threshold semantics)."""

    def __init__(self, n_components: int = 2, percentile: float = 95.0):
        self.k = n_components
        self.percentile = percentile
        self.mean: np.ndarray | None = None
        self.std: np.ndarray | None = None
        self.components: np.ndarray | None = None
        self.thr: float | None = None

    def _errors(self, x: np.ndarray) -> np.ndarray:
        z = (x - self.mean) / self.std
        proj = z @ self.components.T @ self.components
        return ((z - proj) ** 2).mean(axis=1)

    def run(self, train, feature_cols, label_col="label"):
        x = _collect_train_matrix(train, feature_cols)
        self.mean = x.mean(axis=0)
        self.std = x.std(axis=0)
        self.std[self.std == 0] = 1.0
        z = (x - self.mean) / self.std
        # deterministic SVD (numpy LAPACK); top-k right singular vectors.
        # k is capped at n_features-1: with the full basis reconstruction is
        # exact for ANY input and the error signal degenerates to FP noise.
        _, _, vt = np.linalg.svd(z, full_matrices=False)
        k = max(1, min(self.k, vt.shape[0] - 1, vt.shape[1] - 1)) if vt.shape[1] > 1 else 1
        self.components = vt[:k]
        self.thr = float(np.percentile(self._errors(x), self.percentile))

    def detect(self, df, feature_cols):
        mean, std, comp = self.mean, self.std, self.components

        def score(x: np.ndarray) -> np.ndarray:
            z = (x - mean) / std
            proj = z @ comp.T @ comp
            return ((z - proj) ** 2).mean(axis=1)

        return _score_map_in_pandas(df, feature_cols, score, self.thr)


# ---------------------------------------------------------------------------
class MLPAutoencoderDetector(DetectorModel):
    """M1: a true nonlinear autoencoder, the LSTM-AE contract with the
    Keras dependency removed (lstm.py:16-388 — arch 89-115, threshold
    151-167): MinMax-scale -> tanh encoder / linear decoder trained with
    Adam on reconstruction MSE -> threshold = P95 of reconstruction error
    over the LAST 20% of training windows -> detect = err > thr. Training
    is driver-side on the deterministic capped ordered sample (the
    reference also trains in one process); scoring is distributed via
    broadcast-weights Arrow ``mapInPandas``. All randomness from one
    seeded generator -> identical weights under any partitioning."""

    def __init__(self, hidden: int = 8, epochs: int = 30, batch: int = 256,
                 lr: float = 1e-2, percentile: float = 95.0,
                 threshold_tail: float = 0.2, seed: int = 42):
        self.hidden = hidden
        self.epochs = epochs
        self.batch = batch
        self.lr = lr
        self.percentile = percentile
        self.threshold_tail = threshold_tail  # lstm.py:151-167's last-20% slice
        self.seed = seed
        self.lo: np.ndarray | None = None
        self.rng_: np.ndarray | None = None
        self.w1 = self.b1 = self.w2 = self.b2 = None
        self.thr: float | None = None

    def _scale(self, x: np.ndarray) -> np.ndarray:
        return (x - self.lo) / self.rng_

    def _errors(self, xs: np.ndarray) -> np.ndarray:
        h = np.tanh(xs @ self.w1 + self.b1)
        rec = h @ self.w2 + self.b2
        return ((xs - rec) ** 2).mean(axis=1)

    def run(self, train, feature_cols, label_col="label"):
        x = _collect_train_matrix(train, feature_cols)
        # M7 MinMax scaling fitted on train (lstm.py's scaler stage)
        self.lo = x.min(axis=0)
        self.rng_ = x.max(axis=0) - self.lo
        self.rng_[self.rng_ == 0] = 1.0
        xs = self._scale(x)

        n, d = xs.shape
        h = min(self.hidden, max(1, d))
        rng = np.random.default_rng(self.seed)
        w1 = rng.normal(0, 1.0 / np.sqrt(d), (d, h))
        b1 = np.zeros(h)
        w2 = rng.normal(0, 1.0 / np.sqrt(h), (h, d))
        b2 = np.zeros(d)
        # Adam (lstm.py:107's optimizer), reconstruction MSE objective
        ms = [np.zeros_like(p) for p in (w1, b1, w2, b2)]
        vs = [np.zeros_like(p) for p in (w1, b1, w2, b2)]
        beta1, beta2, eps, t = 0.9, 0.999, 1e-8, 0
        for _epoch in range(self.epochs):
            order = rng.permutation(n)
            for s0 in range(0, n, self.batch):
                xb = xs[order[s0:s0 + self.batch]]
                m = len(xb)
                hid = np.tanh(xb @ w1 + b1)
                rec = hid @ w2 + b2
                err = rec - xb  # d(MSE)/d(rec) ~ 2*err/m (constant folded into lr)
                g_w2 = hid.T @ err / m
                g_b2 = err.mean(axis=0)
                d_hid = (err @ w2.T) * (1 - hid**2)
                g_w1 = xb.T @ d_hid / m
                g_b1 = d_hid.mean(axis=0)
                t += 1
                params = [w1, b1, w2, b2]
                grads = [g_w1, g_b1, g_w2, g_b2]
                for i, (p, g) in enumerate(zip(params, grads)):
                    ms[i] = beta1 * ms[i] + (1 - beta1) * g
                    vs[i] = beta2 * vs[i] + (1 - beta2) * g * g
                    mhat = ms[i] / (1 - beta1**t)
                    vhat = vs[i] / (1 - beta2**t)
                    p -= self.lr * mhat / (np.sqrt(vhat) + eps)
        self.w1, self.b1, self.w2, self.b2 = w1, b1, w2, b2
        # threshold = P95 of reconstruction error over the LAST fraction of
        # the (time-ordered) training windows (lstm.py:151-167)
        tail = xs[int(n * (1 - self.threshold_tail)):] if n > 1 else xs
        self.thr = float(np.percentile(self._errors(tail), self.percentile))

    def detect(self, df, feature_cols):
        lo, rng_, w1, b1, w2, b2 = self.lo, self.rng_, self.w1, self.b1, self.w2, self.b2

        def score(x: np.ndarray) -> np.ndarray:
            xs = (x - lo) / rng_
            h = np.tanh(xs @ w1 + b1)
            rec = h @ w2 + b2
            return ((xs - rec) ** 2).mean(axis=1)

        return _score_map_in_pandas(df, feature_cols, score, self.thr)


# ---------------------------------------------------------------------------
def _sigmoid(a: np.ndarray) -> np.ndarray:
    # split by sign to avoid overflow warnings on large-magnitude logits
    out = np.empty_like(a)
    pos = a >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-a[pos]))
    ea = np.exp(a[~pos])
    out[~pos] = ea / (1.0 + ea)
    return out


class RecurrentAutoencoderDetector(DetectorModel):
    """M1 with REAL LSTM gating: a sequence autoencoder trained by
    backprop-through-time in numpy (TF/Keras absent; the architecture of
    lstm.py:89-115 re-implemented natively, gates included). Mirrors the
    reference's Keras graph: LSTM encoder (return_sequences=False) ->
    RepeatVector -> LSTM decoder (return_sequences=True) ->
    TimeDistributed(Dense). Each cell carries input/forget/output gates
    and a cell state (c_t = f*c_{t-1} + i*g; h_t = o*tanh(c_t)), with
    Keras' unit_forget_bias init, so long-range dependencies survive the
    window without the Elman cell's vanishing gradient. The flattened W1
    window is read as a length-D univariate sequence — the same tensor
    the reference feeds its LSTM — and the decoder receives the repeated
    latent at every step (the RepeatVector analog). Thresholded like the
    sibling AEs (P95 of reconstruction error over the last 20% of
    training windows, lstm.py:151-167). Driver-side training on the
    capped ordered sample; distributed scoring via broadcast-weights
    Arrow ``mapInPandas``; one seeded generator -> identical weights
    under any partitioning."""

    def __init__(self, hidden: int = 8, epochs: int = 20, batch: int = 256,
                 lr: float = 1e-2, percentile: float = 95.0,
                 threshold_tail: float = 0.2, seed: int = 42,
                 max_train_windows: int = 12_000):
        self.hidden = hidden
        self.epochs = epochs
        self.batch = batch
        self.lr = lr
        self.percentile = percentile
        self.threshold_tail = threshold_tail
        self.seed = seed
        self.max_train_windows = max_train_windows
        self.lo = self.rng_ = None
        self.params: list[np.ndarray] | None = None
        self.thr: float | None = None

    # parameter order (gate blocks stacked [i | f | o | g], width 4H —
    # the three sigmoid gates contiguous so one _sigmoid call covers them):
    #   Wxe (1,4H), Whe (H,4H), be (4H)   — encoder LSTM
    #   Wxd (H,4H), Whd (H,4H), bd (4H)   — decoder LSTM (input = latent)
    #   Wo (H,1), bo (1)                  — per-step output dense
    @staticmethod
    def _cell(pre_in, h, c, wh, hdim):
        """One LSTM step given the already-projected input (pre_in =
        x_t @ Wx + b): the recurrence is the only per-step matmul."""
        a = pre_in + h @ wh
        sig = _sigmoid(a[:, :3 * hdim])
        i = sig[:, :hdim]
        f = sig[:, hdim:2 * hdim]
        o = sig[:, 2 * hdim:]
        g = np.tanh(a[:, 3 * hdim:])
        c2 = f * c + i * g
        h2 = o * np.tanh(c2)
        return h2, c2, (i, f, g, o, c, c2, h)

    @classmethod
    def _lstm_step(cls, x, h, c, wx, wh, b, hdim):
        return cls._cell(x @ wx + b, h, c, wh, hdim)

    @classmethod
    def _forward(cls, xs: np.ndarray, p: list[np.ndarray], keep_states: bool = False):
        wxe, whe, be, wxd, whd, bd, wo, bo = p
        m, d_len = xs.shape
        hdim = whe.shape[0]
        dt = np.result_type(xs.dtype, whe.dtype)
        # input is a scalar per step: the whole encoder input projection is
        # one outer product, hoisted out of the recurrence
        xproj = xs[:, :, None] * wxe[0][None, None, :] + be
        h = np.zeros((m, hdim), dtype=dt)
        c = np.zeros((m, hdim), dtype=dt)
        enc = []
        for t in range(d_len):
            h, c, cache = cls._cell(xproj[:, t], h, c, whe, hdim)
            if keep_states:
                enc.append(cache)
        lat = h  # RepeatVector: the decoder sees this at every step,
        dproj = lat @ wxd + bd  # so its input projection is constant too
        hd = np.zeros((m, hdim), dtype=dt)
        cd = np.zeros((m, hdim), dtype=dt)
        hdec = np.empty((d_len, m, hdim), dtype=dt)
        dec = []
        for t in range(d_len):
            hd, cd, cache = cls._cell(dproj, hd, cd, whd, hdim)
            hdec[t] = hd
            if keep_states:
                dec.append(cache)
        rec = (hdec @ wo)[:, :, 0].T + bo  # TimeDistributed(Dense(1))
        return (rec, lat, enc, dec, hdec) if keep_states else rec

    def _errors(self, xs: np.ndarray) -> np.ndarray:
        xs = xs.astype(self.params[0].dtype, copy=False)
        rec = self._forward(xs, self.params)
        return ((xs - rec) ** 2).mean(axis=1, dtype=np.float64)

    @staticmethod
    def _gate_grads(dh_t, dc_in, cache, da_out):
        """One LSTM cell's backward, written into the preallocated slab:
        gate pre-activation grads + the cell-state carry."""
        i, f, g, o, c_prev, c_new, _h_prev = cache
        hdim = i.shape[1]
        tc = np.tanh(c_new)
        do = dh_t * tc
        dc_t = dc_in + dh_t * o * (1.0 - tc * tc)
        da_out[:, :hdim] = (dc_t * g) * i * (1.0 - i)                # input
        da_out[:, hdim:2 * hdim] = (dc_t * c_prev) * f * (1.0 - f)   # forget
        da_out[:, 2 * hdim:3 * hdim] = do * o * (1.0 - o)            # output
        da_out[:, 3 * hdim:] = (dc_t * i) * (1.0 - g * g)            # cand.
        return dc_t * f

    @classmethod
    def _loss_grads(cls, xb: np.ndarray, p: list[np.ndarray]):
        """Mean reconstruction MSE + its BPTT gradients for one batch
        (numerically gradient-checked per-gate in tests/test_rnn_ae.py).
        Only the recurrent carries run in the time loop; every
        input-side / output-side gradient batches into one einsum."""
        wxe, whe, be, wxd, whd, bd, wo, bo = p
        m, d_len = xb.shape
        hdim = whe.shape[0]
        rec, lat, enc, dec, hdec = cls._forward(xb, p, keep_states=True)
        loss = float(((xb - rec) ** 2).mean())
        dy = 2.0 * (rec - xb) / (m * d_len)  # dL/d(rec)
        g = [None] * len(p)
        # --- output dense, all steps at once ---
        g[6] = np.einsum("tmh,mt->h", hdec, dy)[:, None]  # Wo
        g[7] = np.array([dy.sum()])                        # bo
        dt = rec.dtype
        # --- decoder BPTT; only dh/dc carry step-to-step ---
        da_dec = np.empty((d_len, m, 4 * hdim), dtype=dt)
        dh = np.zeros((m, hdim), dtype=dt)
        dc = np.zeros((m, hdim), dtype=dt)
        for t in range(d_len - 1, -1, -1):
            dh_t = dh + dy[:, t:t + 1] @ wo.T
            dc = cls._gate_grads(dh_t, dc, dec[t], da_dec[t])
            dh = da_dec[t] @ whd.T
        da_sum = da_dec.sum(axis=0)  # the input is the SAME latent each step
        g[3] = lat.T @ da_sum                                      # Wxd
        g[4] = np.einsum("tmh,tmk->hk", hdec[:-1], da_dec[1:])     # Whd
        g[5] = da_sum.sum(axis=0)                                  # bd
        dlat = da_sum @ wxd.T
        # --- encoder BPTT (gradient arrives at the latent h only; the
        # decoder never reads the encoder cell state, matching Keras) ---
        da_enc = np.empty((d_len, m, 4 * hdim), dtype=dt)
        dh = dlat
        dc = np.zeros((m, hdim), dtype=dt)
        for t in range(d_len - 1, -1, -1):
            dc = cls._gate_grads(dh, dc, enc[t], da_enc[t])
            dh = da_enc[t] @ whe.T
        g[0] = np.einsum("mt,tmk->k", xb, da_enc)[None, :]         # Wxe
        henc_prev = np.stack([cache[6] for cache in enc])
        g[1] = np.einsum("tmh,tmk->hk", henc_prev, da_enc)         # Whe
        g[2] = da_enc.sum(axis=(0, 1))                             # be
        return loss, g

    @staticmethod
    def _init_bias(hdim: int) -> np.ndarray:
        """Gate bias with Keras' unit_forget_bias: forget block starts at 1
        so the cell state initially persists across the window."""
        b = np.zeros(4 * hdim)
        b[hdim:2 * hdim] = 1.0
        return b

    def run(self, train, feature_cols, label_col="label"):
        x = _collect_train_matrix(train, feature_cols)
        self.lo = x.min(axis=0)
        self.rng_ = x.max(axis=0) - self.lo
        self.rng_[self.rng_ == 0] = 1.0
        # float32 training: the precision Keras trains at, ~2x the numpy
        # element-op throughput of float64 on this bandwidth-bound net
        xs = ((x - self.lo) / self.rng_).astype(np.float32)

        n, d_len = xs.shape
        # gradient steps see a deterministic stride subsample: stride-1
        # sliding windows are ~seq_len-fold redundant, so a capped fit set
        # loses almost no signal while bounding driver-side train time at
        # any corpus size (the P95 threshold below still uses the full
        # tail, lstm.py:151-167 contract unchanged)
        if n > self.max_train_windows:
            stride = -(-n // self.max_train_windows)  # ceil
            fit = np.ascontiguousarray(xs[::stride])
        else:
            fit = xs
        nf = len(fit)
        hdim = self.hidden
        rng = np.random.default_rng(self.seed)
        p = [
            rng.normal(0, 1.0, (1, 4 * hdim)),                       # Wxe
            rng.normal(0, 1.0 / np.sqrt(hdim), (hdim, 4 * hdim)),    # Whe
            self._init_bias(hdim),                                   # be
            rng.normal(0, 1.0 / np.sqrt(hdim), (hdim, 4 * hdim)),    # Wxd
            rng.normal(0, 1.0 / np.sqrt(hdim), (hdim, 4 * hdim)),    # Whd
            self._init_bias(hdim),                                   # bd
            rng.normal(0, 1.0 / np.sqrt(hdim), (hdim, 1)),           # Wo
            np.zeros(1),                                             # bo
        ]
        p = [q.astype(np.float32) for q in p]
        ms = [np.zeros_like(q) for q in p]
        vs = [np.zeros_like(q) for q in p]
        beta1, beta2, eps, t_step = 0.9, 0.999, 1e-8, 0
        for _epoch in range(self.epochs):
            order = rng.permutation(nf)
            for s0 in range(0, nf, self.batch):
                xb = fit[order[s0:s0 + self.batch]]
                _, g = self._loss_grads(xb, p)
                t_step += 1
                for i in range(len(p)):
                    ms[i] = beta1 * ms[i] + (1 - beta1) * g[i]
                    vs[i] = beta2 * vs[i] + (1 - beta2) * g[i] * g[i]
                    mhat = ms[i] / (1 - beta1**t_step)
                    vhat = vs[i] / (1 - beta2**t_step)
                    p[i] = p[i] - self.lr * mhat / (np.sqrt(vhat) + eps)
        self.params = p
        tail = xs[int(n * (1 - self.threshold_tail)):] if n > 1 else xs
        self.thr = float(np.percentile(self._errors(tail), self.percentile))

    def detect(self, df, feature_cols):
        lo, rng_, params = self.lo, self.rng_, self.params
        forward = self._forward

        def score(x: np.ndarray) -> np.ndarray:
            xs = ((x - lo) / rng_).astype(params[0].dtype)
            rec = forward(xs, params)
            return ((xs - rec) ** 2).mean(axis=1, dtype=np.float64)

        return _score_map_in_pandas(df, feature_cols, score, self.thr)


# ---------------------------------------------------------------------------
class EncoderOneClassDetector(DetectorModel):
    """M3: AE + one-class boundary (svm.py:16-250's StandardScaler ->
    Dense autoencoder -> OneClassSVM-on-encoded shape, libraries removed):
    the nonlinear MLP autoencoder learns the latent space, and the
    one-class boundary is an RBF-KERNEL one-class model in it,
    approximated with random Fourier features (Rahimi & Recht 2007):
    phi(h) = sqrt(2/D) cos(hW + b) with W ~ N(0, 2*gamma*I) makes
    <phi(a), phi(b)> converge to the RBF kernel exp(-gamma||a-b||^2), and
    because every phi vector has (near-)constant norm, the SVDD sphere
    around the mean embedding IS the kernelized one-class boundary —
    nonlinear and multi-modal in latent space, unlike a raw hypersphere.
    gamma follows sklearn OneClassSVM's 'scale' default 1/(d*Var);
    threshold at the (1 - nu) quantile of training scores preserves
    OneClassSVM's ``nu`` contract (property-tested). Training is
    driver-side on the capped ordered sample; scoring is a
    broadcast-weights distributed pass."""

    def __init__(self, encoding_dim: int = 2, nu: float = 0.1,
                 epochs: int = 30, seed: int = 42, n_rff: int = 128):
        self.ae = MLPAutoencoderDetector(hidden=encoding_dim, epochs=epochs, seed=seed)
        self.nu = nu
        self.seed = seed
        self.n_rff = n_rff
        self.rff_w: np.ndarray | None = None
        self.rff_b: np.ndarray | None = None
        self.center: np.ndarray | None = None
        self.thr: float | None = None

    def _encode(self, xs: np.ndarray) -> np.ndarray:
        return np.tanh(xs @ self.ae.w1 + self.ae.b1)

    def _phi(self, h: np.ndarray) -> np.ndarray:
        return np.sqrt(2.0 / self.n_rff) * np.cos(h @ self.rff_w + self.rff_b)

    def run(self, train, feature_cols, label_col="label"):
        self.ae.run(train, feature_cols)  # fits scaler + encoder/decoder
        x = _collect_train_matrix(train, feature_cols)
        h = self._encode(self.ae._scale(x))
        # gamma = 1 / (d * Var(h)) — sklearn's kernel='rbf', gamma='scale'
        var = float(h.var()) or 1.0
        gamma = 1.0 / (h.shape[1] * var)
        rng = np.random.default_rng(self.seed + 1)
        self.rff_w = rng.normal(0.0, np.sqrt(2.0 * gamma), (h.shape[1], self.n_rff))
        self.rff_b = rng.uniform(0.0, 2.0 * np.pi, self.n_rff)
        p = self._phi(h)
        self.center = p.mean(axis=0)
        d = ((p - self.center) ** 2).sum(axis=1)
        self.thr = float(np.quantile(d, 1.0 - self.nu))

    def _score_fn(self):
        lo, rng_, w1, b1 = self.ae.lo, self.ae.rng_, self.ae.w1, self.ae.b1
        rw, rb, c, n_rff = self.rff_w, self.rff_b, self.center, self.n_rff

        def score(x: np.ndarray) -> np.ndarray:
            h = np.tanh(((x - lo) / rng_) @ w1 + b1)
            p = np.sqrt(2.0 / n_rff) * np.cos(h @ rw + rb)
            return ((p - c) ** 2).sum(axis=1)

        return score

    def detect(self, df, feature_cols):
        return _score_map_in_pandas(df, feature_cols, self._score_fn(), self.thr)


# ---------------------------------------------------------------------------
@dataclass
class _ITree:
    """Array-encoded isolation tree for vectorized traversal.

    ``lo``/``hi`` hold the split feature's observed range at each internal
    node: a scored point outside that range falls in an empty region of the
    subtree and is treated as immediately isolated (path = depth + 1).
    Without this, scores saturate beyond the training range — a gross
    outlier (100x spike) inherits the boundary leaf's path length and can
    score *lower* than dense-extreme inliers.
    """

    feature: np.ndarray  # int32, -1 = leaf
    threshold: np.ndarray
    left: np.ndarray
    right: np.ndarray
    path_adj: np.ndarray  # leaf depth + c(leaf_size)
    lo: np.ndarray
    hi: np.ndarray


def _c(n: float) -> float:
    """Average unsuccessful-search path length in a BST."""
    if n <= 1:
        return 0.0
    return 2.0 * (math.log(n - 1) + 0.5772156649) - 2.0 * (n - 1) / n


def _build_itree(x: np.ndarray, rng: np.random.Generator, max_depth: int) -> _ITree:
    feature, threshold, left, right, path_adj, los, his = [], [], [], [], [], [], []

    def grow(idx: np.ndarray, depth: int) -> int:
        node = len(feature)
        feature.append(-1)
        threshold.append(0.0)
        left.append(-1)
        right.append(-1)
        path_adj.append(0.0)
        los.append(0.0)
        his.append(0.0)
        sub = x[idx]
        if depth >= max_depth or len(idx) <= 1 or np.all(sub == sub[0]):
            path_adj[node] = depth + _c(float(len(idx)))
            return node
        f = int(rng.integers(0, x.shape[1]))
        lo, hi = sub[:, f].min(), sub[:, f].max()
        if lo == hi:
            path_adj[node] = depth + _c(float(len(idx)))
            return node
        t = float(rng.uniform(lo, hi))
        feature[node] = f
        threshold[node] = t
        los[node] = float(lo)
        his[node] = float(hi)
        left[node] = grow(idx[sub[:, f] < t], depth + 1)
        right[node] = grow(idx[sub[:, f] >= t], depth + 1)
        return node

    grow(np.arange(len(x)), 0)
    return _ITree(
        np.asarray(feature, dtype=np.int32),
        np.asarray(threshold),
        np.asarray(left, dtype=np.int32),
        np.asarray(right, dtype=np.int32),
        np.asarray(path_adj),
        np.asarray(los),
        np.asarray(his),
    )


def _itree_paths(tree: _ITree, x: np.ndarray) -> np.ndarray:
    """Vectorized traversal: advance every row one level per iteration.
    Points outside a node's observed range terminate there (path depth+1)."""
    node = np.zeros(len(x), dtype=np.int32)
    depth = np.zeros(len(x))
    out = np.full(len(x), np.nan)
    active = tree.feature[node] >= 0
    while active.any():
        f = tree.feature[node[active]]
        xa = x[active, f]
        oob = (xa < tree.lo[node[active]]) | (xa > tree.hi[node[active]])
        if oob.any():
            act_idx = np.flatnonzero(active)
            out[act_idx[oob]] = depth[act_idx[oob]] + 1.0
        goes_left = xa < tree.threshold[node[active]]
        node[active] = np.where(goes_left, tree.left[node[active]], tree.right[node[active]])
        depth[active] += 1.0
        active = (tree.feature[node] >= 0) & np.isnan(out)
    leaf = np.isnan(out)
    out[leaf] = tree.path_adj[node[leaf]]
    return out


class IsolationForestDetector(DetectorModel):
    """M2: native isolation forest (isolation_forest.py:9-173 semantics:
    n_estimators=100, subsample 256, anomaly score 2^(-E[h]/c(psi)));
    threshold = (1-contamination) quantile of training scores."""

    def __init__(self, n_estimators: int = 100, subsample: int = 256,
                 contamination: float = 0.05, seed: int = 42):
        self.n_estimators = n_estimators
        self.subsample = subsample
        self.contamination = contamination
        self.seed = seed
        self.trees: list[_ITree] = []
        self.c_psi: float = 1.0
        self.thr: float | None = None

    def _scores(self, x: np.ndarray) -> np.ndarray:
        return self._score_closure()(x)

    @staticmethod
    def _stack_trees(trees: list[_ITree]) -> tuple:
        """Pad per-tree node arrays into (n_trees, max_nodes) matrices so
        the scoring traversal vectorizes across ALL trees at once instead
        of looping them — the per-row Python cost drops from O(trees)
        array ops to O(max_depth)."""
        t_n, m = len(trees), max(len(t.feature) for t in trees)
        feat = np.full((t_n, m), -1, dtype=np.int32)
        thr = np.zeros((t_n, m))
        left = np.zeros((t_n, m), dtype=np.int32)
        right = np.zeros((t_n, m), dtype=np.int32)
        adj = np.zeros((t_n, m))
        lo = np.zeros((t_n, m))
        hi = np.zeros((t_n, m))
        for i, t in enumerate(trees):
            k = len(t.feature)
            feat[i, :k] = t.feature
            thr[i, :k] = t.threshold
            left[i, :k] = t.left
            right[i, :k] = t.right
            adj[i, :k] = t.path_adj
            lo[i, :k] = t.lo
            hi[i, :k] = t.hi
        return feat, thr, left, right, adj, lo, hi

    def run(self, train, feature_cols, label_col="label"):
        x = _collect_train_matrix(train, feature_cols)
        rng = np.random.default_rng(self.seed)
        psi = min(self.subsample, len(x))
        max_depth = int(math.ceil(math.log2(max(psi, 2))))
        self.c_psi = _c(float(psi))
        self.trees = []
        for _ in range(self.n_estimators):
            idx = rng.choice(len(x), size=psi, replace=False)
            self.trees.append(_build_itree(x[idx], rng, max_depth))
        self._stack = self._stack_trees(self.trees)
        # Threshold = (1-contamination) quantile of TRAINING scores,
        # computed distributed (exact percentile over the scored frame):
        # the driver builds trees from a capped sample but never scores the
        # full training set — at 100 TB it can't. Fan out first: the input
        # often arrives as one cached partition.
        sc = train.sparkSession.sparkContext
        spread = train.repartition(sc.defaultParallelism)
        scored = _score_map_in_pandas(
            spread, feature_cols, self._score_closure(sc), float("inf")
        )
        self.thr = float(
            scored.agg(
                F.percentile(F.col("score"), F.lit(1.0 - self.contamination))
            ).collect()[0][0]
        )

    def _score_closure(self, sc=None):
        # Ship the padded tree stack and keep the traversal nested so the
        # closure pickles BY VALUE — executors must not need to import
        # exact_spark (the driver may run from any cwd). With a SparkContext
        # the (~MB) tree state goes out as a broadcast — shipped once per
        # executor instead of re-pickled into every task. The traversal is
        # vectorized over (trees x rows) in bounded row tiles: every loop
        # iteration advances ALL trees' cursors one level, so the Python
        # overhead is O(max_depth) array ops per tile, not O(trees).
        stack = self._stack
        bc = sc.broadcast(stack) if sc is not None else None
        c_psi, n_est = self.c_psi, self.n_estimators
        tile = 4096  # (trees x tile) working set ~ a few MB per array

        def score(x: np.ndarray) -> np.ndarray:
            feat, thr, left, right, adj, lo, hi = (
                bc.value if bc is not None else stack
            )
            t_n = feat.shape[0]
            ti = np.arange(t_n)[:, None]
            n = len(x)
            paths = np.empty(n)
            for s0 in range(0, n, tile):
                xt = x[s0:s0 + tile]
                m = len(xt)
                rows = np.arange(m)[None, :]
                node = np.zeros((t_n, m), dtype=np.int32)
                depth = np.zeros((t_n, m))
                out = np.full((t_n, m), np.nan)
                active = feat[ti, node] >= 0
                while active.any():
                    f = feat[ti, node]
                    xa = xt[rows, np.clip(f, 0, xt.shape[1] - 1)]
                    cur_lo, cur_hi = lo[ti, node], hi[ti, node]
                    oob = active & np.isnan(out) & ((xa < cur_lo) | (xa > cur_hi))
                    out[oob] = depth[oob] + 1.0
                    goes_left = xa < thr[ti, node]
                    nxt = np.where(goes_left, left[ti, node], right[ti, node])
                    node = np.where(active, nxt, node)
                    depth += active
                    active = (feat[ti, node] >= 0) & np.isnan(out)
                leaf = np.isnan(out)
                out[leaf] = adj[ti, node][leaf]
                paths[s0:s0 + m] = out.sum(axis=0)
            return 2.0 ** (-(paths / n_est) / c_psi)

        return score

    def detect(self, df, feature_cols):
        sc = df.sparkSession.sparkContext
        return _score_map_in_pandas(
            df, feature_cols, self._score_closure(sc), self.thr
        )


# ---------------------------------------------------------------------------
class MLlibClassifierDetector(DetectorModel):
    """M4-M6 supervised family on pyspark.ml Pipelines — fully distributed
    train + score (decision_tree.py / SGDClassifier.py re-expressed)."""

    def __init__(self, algo: str = "decision_tree", seed: int = 42,
                 params: dict | None = None):
        self.algo = algo
        self.seed = seed
        #: classifier-param overrides (the hyperparameter-search refit path,
        #: XGBoost.py:397-398's `model_params.update(best_params_)`)
        self.params = dict(params or {})
        self.model = None

    def _classifier(self):
        from pyspark.ml.classification import (
            DecisionTreeClassifier,
            GBTClassifier,
            LinearSVC,
            LogisticRegression,
        )

        if self.algo == "decision_tree":
            kw = dict(labelCol="label", featuresCol="features", maxDepth=5, seed=self.seed)
            kw.update(self.params)
            return DecisionTreeClassifier(**kw)
        if self.algo == "gbt":
            # M4 analog: distributed gradient-boosted trees (XGBoost is not
            # in this environment); scale_pos_weight (XGBoost.py:538-544)
            # becomes a per-row weight column set in run()
            kw = dict(
                labelCol="label", featuresCol="features", maxDepth=4,
                maxIter=10, seed=self.seed, weightCol="__w",
            )
            kw.update(self.params)
            return GBTClassifier(**kw)
        if self.algo == "logistic_regression":
            kw = dict(labelCol="label", featuresCol="features", maxIter=10, tol=1e-4)
            kw.update(self.params)
            return LogisticRegression(**kw)
        if self.algo == "linear_svc":
            kw = dict(labelCol="label", featuresCol="features", maxIter=10, tol=1e-4)
            kw.update(self.params)
            return LinearSVC(**kw)
        raise KeyError(self.algo)

    def run(self, train, feature_cols, label_col="label"):
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import MinMaxScaler, VectorAssembler

        if self.algo == "gbt":
            # G8 scale_pos_weight: positives weighted n_neg/n_pos
            # (XGBoost.py:327-337); computed on the training frame
            counts = train.groupBy(label_col).count().collect()
            by = {r[label_col]: r["count"] for r in counts}
            spw = by.get(0, 1) / max(by.get(1, 1), 1)
            train = train.withColumn(
                "__w",
                F.when(F.col(label_col) == 1, F.lit(float(spw))).otherwise(F.lit(1.0)),
            )
        pipe = Pipeline(
            stages=[
                VectorAssembler(inputCols=feature_cols, outputCol="raw_features"),
                MinMaxScaler(inputCol="raw_features", outputCol="features"),
                self._classifier(),
            ]
        )
        self.model = pipe.fit(train)

    def detect(self, df, feature_cols):
        from pyspark.ml.functions import vector_to_array

        scored = self.model.transform(df)
        score = (
            F.element_at(vector_to_array(F.col("probability")), 2).cast("double")
            if "probability" in scored.columns
            else F.col("prediction").cast("double")
        )
        return scored.select(
            "id", score.alias("score"), F.col("prediction").cast("int").alias("predicted")
        )


# ---------------------------------------------------------------------------
UNSUPERVISED = {"pca_autoencoder", "mlp_autoencoder", "ae_ocsvm",
                "isolation_forest", "threshold"}  # execute_calls.py:36-40


def get_model(name: str, **params) -> DetectorModel:
    """Factory (get_model.py:7-41)."""
    name = name.lower()
    if name == "threshold":
        return ThresholdDetector(**params)
    if name == "pca_autoencoder":
        return PCAReconstructionDetector(**params)
    if name == "mlp_autoencoder":
        return MLPAutoencoderDetector(**params)
    if name == "rnn_autoencoder":
        return RecurrentAutoencoderDetector(**params)
    if name == "ae_ocsvm":
        return EncoderOneClassDetector(**params)
    if name == "isolation_forest":
        return IsolationForestDetector(**params)
    if name == "xgboost":
        return NativeXGBoostDetector(**params)
    if name in ("decision_tree", "logistic_regression", "linear_svc", "gbt"):
        return MLlibClassifierDetector(algo=name, **params)
    if name == "calibrated_svc":
        # M6 + isotonic probability calibration (SGDClassifier.py:426-453)
        from exact_spark.ml.calibrate import CalibratedMarginDetector

        return CalibratedMarginDetector(**params)
    raise KeyError(f"unknown model {name!r}")


# ---------------------------------------------------------------------------
class NativeXGBoostDetector(DetectorModel):
    """M4: histogram-based second-order gradient boosting — the XGBoost
    ALGORITHM (Chen & Guestrin 2016) implemented natively; the xgboost
    library is absent from this environment, the math is not. Binary
    logloss with exact first/second-order gradients (g = p - y,
    h = p(1-p)), depth-wise greedy trees grown on per-feature gradient
    HISTOGRAMS (quantile bin edges fitted on train), the paper's
    regularized gain
    0.5*[GL^2/(HL+l) + GR^2/(HR+l) - G^2/(H+l)] - gamma and leaf weight
    -G/(H+l), eta-shrunk margins, min_child_weight pruning, and
    scale_pos_weight as per-instance gradient weights (XGBoost.py:83-92's
    imbalance knob). Fully deterministic — no subsampling, no RNG; the
    same capped ordered sample and broadcast-weights distributed scoring
    as every native model here. ``MLlibClassifierDetector(algo='gbt')``
    remains the DISTRIBUTED-fit boosted ensemble for when the training
    set cannot sit on the driver."""

    def __init__(self, n_estimators: int = 40, max_depth: int = 3,
                 learning_rate: float = 0.3, reg_lambda: float = 1.0,
                 gamma: float = 0.0, n_bins: int = 32,
                 min_child_weight: float = 1.0, scale_pos_weight: float = 1.0):
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.eta = learning_rate
        self.reg_lambda = reg_lambda
        self.gamma = gamma
        self.n_bins = n_bins
        self.min_child_weight = min_child_weight
        self.scale_pos_weight = scale_pos_weight
        self.edges: list[np.ndarray] | None = None
        self.trees: list[dict] | None = None
        self.base_margin: float = 0.0
        self.thr = 0.5  # decision boundary on the probability

    # -- training ------------------------------------------------------------
    def _bin(self, x: np.ndarray) -> np.ndarray:
        codes = np.empty(x.shape, dtype=np.int32)
        for f in range(x.shape[1]):
            codes[:, f] = np.searchsorted(self.edges[f], x[:, f], side="right")
        return codes

    def _grow_tree(self, codes: np.ndarray, g: np.ndarray, h: np.ndarray) -> dict:
        """One depth-wise tree on binned features. Node storage is flat
        arrays (feature, bin, left, right, weight); leaf when no split
        clears gamma/min_child_weight."""
        n_feat = codes.shape[1]
        lam, mcw = self.reg_lambda, self.min_child_weight
        feat, binv, left, right, weight = [], [], [], [], []

        def new_node() -> int:
            feat.append(-1); binv.append(-1); left.append(-1); right.append(-1)
            weight.append(0.0)
            return len(feat) - 1

        def build(idx: np.ndarray, depth: int) -> int:
            node = new_node()
            gs, hs = float(g[idx].sum()), float(h[idx].sum())
            if depth >= self.max_depth or len(idx) < 2:
                weight[node] = -gs / (hs + lam)
                return node
            parent_obj = gs * gs / (hs + lam)
            best = (0.0, -1, -1)
            for f in range(n_feat):
                gh = np.bincount(codes[idx, f], weights=g[idx], minlength=self.n_bins + 1)
                hh = np.bincount(codes[idx, f], weights=h[idx], minlength=self.n_bins + 1)
                gl = np.cumsum(gh)[:-1]  # split after bin b: left = bins <= b
                hl = np.cumsum(hh)[:-1]
                gr, hr = gs - gl, hs - hl
                ok = (hl >= mcw) & (hr >= mcw)
                gain = np.where(
                    ok,
                    0.5 * (gl * gl / (hl + lam) + gr * gr / (hr + lam) - parent_obj)
                    - self.gamma,
                    -np.inf,
                )
                b = int(np.argmax(gain))
                if gain[b] > best[0]:
                    best = (float(gain[b]), f, b)
            if best[1] < 0:
                weight[node] = -gs / (hs + lam)
                return node
            _, f, b = best
            mask = codes[idx, f] <= b
            feat[node], binv[node] = f, b
            left[node] = build(idx[mask], depth + 1)
            right[node] = build(idx[~mask], depth + 1)
            return node

        build(np.arange(len(g)), 0)
        return {
            "feature": np.array(feat, dtype=np.int32),
            "bin": np.array(binv, dtype=np.int32),
            "left": np.array(left, dtype=np.int32),
            "right": np.array(right, dtype=np.int32),
            "weight": np.array(weight, dtype=np.float64),
        }

    @staticmethod
    def _tree_margin(tree: dict, codes: np.ndarray) -> np.ndarray:
        out = np.empty(len(codes))
        node = np.zeros(len(codes), dtype=np.int32)
        active = np.arange(len(codes))
        while len(active):
            nd = node[active]
            is_leaf = tree["feature"][nd] < 0
            leaf_rows = active[is_leaf]
            out[leaf_rows] = tree["weight"][nd[is_leaf]]
            live = active[~is_leaf]
            nd = node[live]
            go_left = codes[live, tree["feature"][nd]] <= tree["bin"][nd]
            node[live] = np.where(go_left, tree["left"][nd], tree["right"][nd])
            active = live
        return out

    def run(self, train, feature_cols, label_col="label"):
        pdf = (
            train.select("id", label_col, *feature_cols)
            .orderBy("id")
            .limit(TRAIN_SAMPLE_CAP)
            .toPandas()
        )
        x = pdf[feature_cols].to_numpy(dtype=np.float64)
        y = pdf[label_col].to_numpy(dtype=np.float64)
        w = np.where(y == 1, self.scale_pos_weight, 1.0)
        # quantile bin edges per feature (the hist-method sketch)
        qs = np.linspace(0, 1, self.n_bins + 1)[1:-1]
        self.edges = [np.unique(np.quantile(x[:, f], qs)) for f in range(x.shape[1])]
        codes = self._bin(x)
        base_p = min(max(float((w * y).sum() / w.sum()), 1e-6), 1 - 1e-6)
        self.base_margin = math.log(base_p / (1 - base_p))
        margins = np.full(len(y), self.base_margin)
        self.trees = []
        for _ in range(self.n_estimators):
            p = 1.0 / (1.0 + np.exp(-margins))
            g = (p - y) * w
            h = np.maximum(p * (1 - p) * w, 1e-16)
            tree = self._grow_tree(codes, g, h)
            margins = margins + self.eta * self._tree_margin(tree, codes)
            self.trees.append(tree)

    # -- serving -------------------------------------------------------------
    def _score_closure(self):
        edges, trees, eta, base = self.edges, self.trees, self.eta, self.base_margin
        tree_margin, binner = self._tree_margin, None

        def score(x: np.ndarray) -> np.ndarray:
            codes = np.empty(x.shape, dtype=np.int32)
            for f in range(x.shape[1]):
                codes[:, f] = np.searchsorted(edges[f], x[:, f], side="right")
            m = np.full(len(x), base)
            for t in trees:
                m = m + eta * tree_margin(t, codes)
            return 1.0 / (1.0 + np.exp(-m))  # P(anomaly)

        return score

    def detect(self, df, feature_cols):
        return _score_map_in_pandas(df, feature_cols, self._score_closure(), self.thr)
