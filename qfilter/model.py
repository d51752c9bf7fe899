"""Train -> artifact -> broadcast -> batch-infer path (reference entry
point 3, SURVEY §3.3).

From-scratch numpy logistic regression standing in for the reference's
StandardScaler + LogisticRegression pipeline
(`tune_extended_classifier.py:171-191`) and its pickled-model predict
(`infer_quality.py:16-91`, joblib dict {'model','features'}), reshaped
for Spark:

1. fit on a driver-side SAMPLE of the features table
   (`training_sample`: orderBy + limit, same discipline as the IVF
   quantizer — never a full-table driver read at 100 TB);
2. serialize weights to an ``.npz`` artifact (`save_model`), the
   analog of the reference's joblib dump
   (`tune_extended_classifier.py:277-281`);
3. broadcast the weights to executors and batch-predict inside one
   vectorized pandas UDF (`with_model_scores`).

The reference's model zoo (five families raced by 5-fold CV) runs on
the same three pieces: every family is a ``fit_*(X, y)`` trainer plus
a numpy ``score(X, model)`` function, `cv_models` trains any family's
fold models on the one sample, and `with_cv_scores` scores each row
with the fold model that did not train on it.

Determinism contract (the DuckDB oracle recomputes the identical
doubles):

* features are the ARITHMETIC-ONLY engineered columns (no log1p terms
  — JVM ``Math.log`` vs libm differ in the last ulp, see
  `qf_derived_features`), so every feature value is bit-identical
  between Spark, numpy and DuckDB;
* training avoids BLAS matmul (thread-blocking-dependent reduction
  order) — all reductions are numpy pairwise sums over fixed-order
  arrays, so the same sample rows give bit-identical weights in any
  process;
* inference accumulates ``z = b + w1*f1 + w2*f2 + ...`` strictly
  left-to-right, elementwise (`affine_score`) — the oracle SQL nests
  the additions in the same order, so scores match bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MODEL_FEATURES",
    "TRAIN_SAMPLE_MAX",
    "CV_K",
    "training_sample",
    "cv_models",
    "with_cv_scores",
    "with_model_scores",
    "affine_score",
    "gb_score",
    "rf_proba",
    "svm_rff_margin",
    "zoo_soft_vote_proba",
    "fit_logreg",
    "fit_gb_stumps",
    "fit_rf_lite",
    "fit_svm_linear",
    "fit_svm_rff",
    "save_model",
    "load_model",
    "save_gb",
    "load_gb",
    "feature_importance_rows",
]

# arithmetic-only engineered features (infer_quality.py:50-58 minus the
# log1p terms; raw gates pct80/median_ocr_conf/conf_iqr as in the
# tuning cascade tune_extended_classifier.py:81-97)
MODEL_FEATURES = [
    "pct80",
    "median_ocr_conf",
    "conf_iqr",
    "conf_range",
    "blur_per_word",
    "density_per_conf",
    "pct80_squared",
    "line_height_cv",
    "line_spacing_cv",
]

TRAIN_SAMPLE_MAX = 4096  # driver-side training sample cap
CV_K = 5  # folds, as the reference's cross_val_score(cv=5) default
LOGREG_LR = 0.5
LOGREG_ITERS = 400
LOGREG_L2 = 1e-3


# ------------------------------------------------- the one shared path


def training_sample(features: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The deterministic driver-side training sample of a Spark
    features table: ``(X, y)`` over `MODEL_FEATURES` and ``keep``,
    sorted by ``image_id``.  Only <= TRAIN_SAMPLE_MAX rows ever reach
    the driver (100 TB: the sort+limit is a TakeOrdered, not a full
    collect)."""
    rows = (
        features.select("image_id", "keep", *MODEL_FEATURES)
        .orderBy("image_id")
        .limit(TRAIN_SAMPLE_MAX)
        .collect()
    )
    X = np.asarray([[float(r[f]) for f in MODEL_FEATURES] for r in rows])
    y = np.asarray([1.0 if r["keep"] else 0.0 for r in rows])
    return X, y


def cv_models(features: DataFrame, fit) -> list:
    """K-fold CV models (A7, reference `tune_extended_classifier.py`
    cross_val_score) of one family: fold f = position % CV_K over the
    sorted `training_sample`, model f = ``fit`` on every OTHER fold."""
    X, y = training_sample(features)
    folds = np.arange(len(X)) % CV_K
    return [fit(X[folds != f], y[folds != f]) for f in range(CV_K)]


def with_cv_scores(df: DataFrame, models: list, predict) -> DataFrame:
    """Held-out prediction: each row (its ``fold`` column) is scored by
    the model that did NOT train on its fold.  One broadcast of the k
    models, one Arrow-batched UDF; ``predict(X, model)`` is the family's
    numpy body and returns the boolean ``pred_keep`` of the rows of X,
    so the oracle's per-fold SQL chains are bit-identical."""
    bc = df.sparkSession.sparkContext.broadcast(models)

    @F.pandas_udf(T.BooleanType())
    def pred(fold: pd.Series, *cols: pd.Series) -> pd.Series:
        fidx = fold.to_numpy(dtype=np.int64)
        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        out = np.empty(len(fidx), dtype=bool)
        for f, m in enumerate(bc.value):
            sel = fidx == f
            if sel.any():
                out[sel] = predict(X[sel], m)
        return pd.Series(out)

    return df.withColumn(
        "pred_keep", pred(F.col("fold"), *[F.col(f) for f in MODEL_FEATURES])
    )


_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("score", T.DoubleType()),
        T.StructField("pred_keep", T.BooleanType()),
    ]
)


def with_model_scores(df: DataFrame, score, model) -> DataFrame:
    """Batch inference: broadcast the (tiny) model, score every row
    inside one Arrow-batched pandas UDF with the family's
    ``score(X, model)`` margin (`affine_score` or `gb_score`).
    pred_keep = score > 0 (p > 0.5)."""
    bc = df.sparkSession.sparkContext.broadcast(model)

    @F.pandas_udf(_SCORE_SCHEMA)
    def scored(*cols: pd.Series) -> pd.DataFrame:
        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        z = score(X, bc.value)
        return pd.DataFrame({"score": z, "pred_keep": z > 0.0})

    out = df.withColumn("_m", scored(*[F.col(f) for f in MODEL_FEATURES]))
    return out.select(*df.columns, "_m.*")


def affine_score(X: np.ndarray, model: tuple[np.ndarray, float]) -> np.ndarray:
    """z = b + w[0]*X[:, 0] + w[1]*X[:, 1] + ..., accumulated strictly
    left-to-right with elementwise numpy adds (no matmul), so the oracle
    SQL's identically-nested expression produces bit-identical doubles."""
    w, b = model
    z = np.full(len(X), b, dtype=np.float64)
    for i, wi in enumerate(w):
        z = z + wi * X[:, i]
    return z


def _standardize(X: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The reference pipeline's StandardScaler: ``((X - mu) / sd, mu,
    sd)``.  (Near-)constant features keep sd = 1: folding w/sd back
    with sd ~ 1e-30 would explode the raw weight (catastrophic
    cancellation in the score); their standardized values stay ~0, so
    gradient descent leaves their weight at ~0."""
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd = np.where(sd > 1e-9 * np.maximum(1.0, np.abs(mu)), sd, 1.0)
    return (X - mu) / sd, mu, sd


# ------------------------------------- model family 1: logistic regression


def fit_logreg(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """Full-batch gradient-descent logistic regression with internal
    standardization (the reference pipeline's StandardScaler), folded
    back into RAW-feature weights so predict is a plain affine score.

    Deterministic: fixed iteration count, zero init, no BLAS matmul
    (see module docstring).  Returns (w_raw, b_raw) with
    score(x) = b_raw + sum_i w_raw[i] * x[i]."""
    # C-contiguous: numpy's pairwise reductions traverse by memory
    # layout, so a Fortran-ordered input (pandas .to_numpy()) would sum
    # in a different order and break bit-identity with the oracle twin
    X = np.ascontiguousarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if X.ndim != 2 or len(X) != len(y) or len(X) == 0:
        raise ValueError(f"bad training shapes X={X.shape} y={y.shape}")
    Xs, mu, sd = _standardize(X)
    n, d = Xs.shape
    w = np.zeros(d, dtype=np.float64)
    b = 0.0
    for _ in range(LOGREG_ITERS):
        z = b + (Xs * w).sum(axis=1)
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        gw = (Xs * err[:, None]).sum(axis=0) / n + LOGREG_L2 * w
        gb = float(err.sum()) / n
        w = w - LOGREG_LR * gw
        b = b - LOGREG_LR * gb
    w_raw = w / sd
    b_raw = b - float((w * mu / sd).sum())
    return w_raw, float(b_raw)


def save_model(path: str, model: tuple[np.ndarray, float]) -> None:
    """.npz artifact of an affine ``(w, b)`` model — {'model','features'}
    like the reference's joblib dump, numpy-only (no pickled code)."""
    w, b = model
    np.savez_compressed(
        path, w=np.asarray(w, dtype=np.float64), b=np.float64(b),
        features=np.array(MODEL_FEATURES),
    )


def load_model(path: str) -> tuple[np.ndarray, float]:
    z = np.load(path, allow_pickle=False)
    feats = [str(x) for x in z["features"]]
    if feats != MODEL_FEATURES:
        raise ValueError(f"artifact feature order {feats} != {MODEL_FEATURES}")
    return z["w"].astype(np.float64), float(z["b"])


# ------------------------------------------- model family 2: GB stumps
#
# The reference's model zoo trains RandomForest / GradientBoosting /
# SVM variants next to the logistic pipeline and picks the best by CV
# accuracy (tune_extended_classifier.py:134-238).  sklearn is not
# available here, so the second family is a from-scratch deterministic
# gradient-boosted-stumps classifier: logistic-loss boosting, each
# round fitting a depth-1 tree (feature, threshold, two Newton-step
# leaf values).  Bit-identity discipline matches fit_logreg: fixed
# round count, no BLAS, all reductions are numpy sums over arrays in
# original row order, ties broken by (feature index, threshold index),
# and inference accumulates z = f0 + round_1 + round_2 + ... strictly
# left-to-right so the oracle SQL's identically-nested CASE chain
# produces bit-identical doubles.

GB_ROUNDS = 12
GB_LR = 0.5
GB_MAX_CANDS = 32


def _stump_candidates(col: np.ndarray) -> np.ndarray:
    """Deterministic candidate thresholds: midpoints between sorted
    unique values, thinned to <= GB_MAX_CANDS evenly by index."""
    u = np.unique(col)
    if len(u) < 2:
        return np.empty(0)
    mids = (u[:-1] + u[1:]) / 2.0
    if len(mids) > GB_MAX_CANDS:
        idx = (np.arange(GB_MAX_CANDS) * len(mids)) // GB_MAX_CANDS
        mids = mids[idx]
    return mids


def fit_gb_stumps(X: np.ndarray, y: np.ndarray) -> dict:
    """Gradient-boosted decision stumps for binary logistic loss.

    Per round: residual r = y - p; split (j, t) maximizes the exact
    variance-reduction score sum_L(r)^2/n_L + sum_R(r)^2/n_R; leaf
    values are one Newton step sum(r)/sum(p(1-p)) clipped to +-4 (the
    standard Friedman/LogitBoost guard against vanishing Hessians).
    Returns {"f0", "feat", "thr", "val_l", "val_r", "gain"} with the
    learning rate folded into the leaf values; score via `gb_score`.
    """
    X = np.ascontiguousarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    if n == 0:
        raise ValueError("empty training set")
    cands = [_stump_candidates(X[:, j]) for j in range(d)]
    feat = np.zeros(GB_ROUNDS, dtype=np.int64)
    thr = np.zeros(GB_ROUNDS, dtype=np.float64)
    val_l = np.zeros(GB_ROUNDS, dtype=np.float64)
    val_r = np.zeros(GB_ROUNDS, dtype=np.float64)
    gain_arr = np.zeros(GB_ROUNDS, dtype=np.float64)
    Fv = np.zeros(n, dtype=np.float64)
    for k in range(GB_ROUNDS):
        p = 1.0 / (1.0 + np.exp(-Fv))
        r = y - p
        h = p * (1.0 - p)
        best = (-np.inf, 0, 0.0)
        for j in range(d):
            col = X[:, j]
            for t in cands[j]:
                m = col <= t
                nl = int(m.sum())
                if nl == 0 or nl == n:
                    continue
                sl = float(r[m].sum())
                sr = float(r[~m].sum())
                gain = sl * sl / nl + sr * sr / (n - nl)
                if gain > best[0]:
                    best = (gain, j, float(t))
        gbest, j, t = best
        m = X[:, j] <= t
        gain_arr[k] = gbest  # variance-reduction score of the round
        hl = float(h[m].sum())
        hr = float(h[~m].sum())
        gl = float(np.clip(float(r[m].sum()) / max(hl, 1e-9), -4.0, 4.0))
        gr = float(np.clip(float(r[~m].sum()) / max(hr, 1e-9), -4.0, 4.0))
        feat[k] = j
        thr[k] = t
        val_l[k] = GB_LR * gl
        val_r[k] = GB_LR * gr
        Fv = Fv + np.where(m, val_l[k], val_r[k])
    return {"f0": 0.0, "feat": feat, "thr": thr, "val_l": val_l,
            "val_r": val_r, "gain": gain_arr}


def gb_score(X: np.ndarray, model: dict) -> np.ndarray:
    """score(x) = f0 + sum_k (x[feat_k] <= thr_k ? val_l_k : val_r_k),
    accumulated round-by-round left-to-right; the oracle SQL nests the
    same CASE terms in the same order -> bit-identical doubles."""
    z = np.full(len(X), model["f0"], dtype=np.float64)
    for j, t, vl, vr in zip(
        model["feat"], model["thr"], model["val_l"], model["val_r"]
    ):
        z = z + np.where(X[:, j] <= t, vl, vr)
    return z


def save_gb(path: str, model: dict) -> None:
    """.npz artifact for the stump ensemble (same shape discipline as
    `save_model`: arrays + feature list, no pickled code)."""
    np.savez_compressed(
        path,
        f0=np.float64(model["f0"]),
        feat=model["feat"].astype(np.int64),
        thr=model["thr"].astype(np.float64),
        val_l=model["val_l"].astype(np.float64),
        val_r=model["val_r"].astype(np.float64),
        features=np.array(MODEL_FEATURES),
    )


def load_gb(path: str) -> dict:
    z = np.load(path, allow_pickle=False)
    feats = [str(x) for x in z["features"]]
    if feats != MODEL_FEATURES:
        raise ValueError(f"artifact feature order {feats} != {MODEL_FEATURES}")
    return {
        "f0": float(z["f0"]),
        "feat": z["feat"].astype(np.int64),
        "thr": z["thr"].astype(np.float64),
        "val_l": z["val_l"].astype(np.float64),
        "val_r": z["val_r"].astype(np.float64),
    }


# ---------------------------------- model families 3-5: RF / SVM / vote
#
# Completing the reference zoo shape (tune_extended_classifier.py:
# 134-225: RandomForest grid, GradientBoosting grid, LR grid, SVC,
# soft VotingClassifier).  Same determinism discipline: fixed
# iteration counts, integer-hash pseudo-randomness (no RNG state), no
# BLAS, fixed accumulation orders.  The SVC's soft probability is
# sigmoid(margin) (Platt-style with unit scale, deterministic).

RF_TREES = 8
RF_DEPTH = 2  # root + one split per side = 4 leaves
_HASH_A = 2654435761  # Knuth multiplicative constant


def _tree_fit(X: np.ndarray, y: np.ndarray, feats: list[int]) -> dict:
    """Depth-2 CART on the given feature subset: gini-gain splits over
    `_stump_candidates` thresholds, leaf value = keep fraction.

    Each realized split also records its impurity decrease in
    ``gains`` as (feature, gain) pairs in split order (root, left,
    right) — the raw material for `feature_importance_rows`
    (reference feature_importances_, tune_extended_classifier.py:
    244-251)."""

    def parent_impurity(idx):
        # total (unnormalized) gini of the node: n * p * (1 - p)
        n = len(idx)
        p = float(y[idx].sum()) / max(n, 1)
        return n * (p * (1.0 - p))

    def best_split(idx):
        yy = y[idx]
        n = len(idx)
        base = yy.sum()
        best = (-np.inf, -1, 0.0)
        for j in feats:
            col = X[idx, j]
            for t in _stump_candidates(col):
                m = col <= t
                nl = int(m.sum())
                if nl == 0 or nl == n:
                    continue
                sl = float(yy[m].sum())
                sr = base - sl
                # negative weighted gini impurity (higher = better)
                pl, pr = sl / nl, sr / (n - nl)
                score = -(
                    nl * (pl * (1.0 - pl)) + (n - nl) * (pr * (1.0 - pr))
                )
                if score > best[0]:
                    best = (score, j, float(t))
        return best

    def leaf(idx):
        return float(y[idx].sum()) / max(len(idx), 1)

    all_idx = np.arange(len(X))
    gains: list[tuple[int, float]] = []
    s0 = best_split(all_idx)
    if s0[1] < 0:
        p = leaf(all_idx)
        return {"feat": 0, "thr": np.inf, "l": (0, np.inf, p, p),
                "r": (0, np.inf, p, p), "gains": gains}
    _, j0, t0 = s0
    # best_split's score is -(weighted child gini total), so the
    # impurity DECREASE of the split is parent_total + score
    gains.append((int(j0), parent_impurity(all_idx) + s0[0]))
    left = all_idx[X[all_idx, j0] <= t0]
    right = all_idx[X[all_idx, j0] > t0]

    def child(idx):
        if len(idx) < 4:
            p = leaf(idx)
            return (0, np.inf, p, p)
        s = best_split(idx)
        if s[1] < 0:
            p = leaf(idx)
            return (0, np.inf, p, p)
        _, j, t = s
        gains.append((int(j), parent_impurity(idx) + s[0]))
        m = X[idx, j] <= t
        return (j, t, leaf(idx[m]), leaf(idx[~m]))

    return {"feat": j0, "thr": t0, "l": child(left), "r": child(right),
            "gains": gains}


def fit_rf_lite(X: np.ndarray, y: np.ndarray) -> list[dict]:
    """Bagged depth-2 trees: per-tree bootstrap rows and feature
    subsets from integer hashes (deterministic in any process).
    predict_proba(x) = mean over trees of the leaf keep-fraction,
    accumulated in tree order."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    forest = []
    for t in range(RF_TREES):
        rows = ((np.arange(n, dtype=np.uint64) * _HASH_A + 40503 * (t + 1))
                % (2**32)) % n
        feats = sorted(
            j for j in range(d) if (j * _HASH_A + t) % 4 != 0
        ) or list(range(d))
        forest.append(_tree_fit(X[rows.astype(np.int64)], y[rows.astype(np.int64)], feats))
    return forest


def rf_proba(X: np.ndarray, forest: list[dict]) -> np.ndarray:
    """Mean leaf probability over trees, t-order accumulation (the
    oracle SQL nests the identical CASE chain)."""
    X = np.asarray(X, dtype=np.float64)
    p = np.zeros(len(X), dtype=np.float64)
    for tr in forest:
        root = X[:, tr["feat"]] <= tr["thr"]
        jl, tl, pll, plr = tr["l"]
        jr, trr, prl, prr = tr["r"]
        pl = np.where(X[:, jl] <= tl, pll, plr)
        pr = np.where(X[:, jr] <= trr, prl, prr)
        p = p + np.where(root, pl, pr)
    return p / float(len(forest))


SVM_LR = 0.5
SVM_ITERS = 300
SVM_L2 = 1e-3


def _hinge_gd(Z: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """Full-batch subgradient descent on the L2-regularized hinge loss
    over the columns of Z, labels y in {0, 1} mapped to -1/+1: fixed
    iteration count, zero init, no BLAS.  Returns (w, b) in Z-space."""
    yy = np.where(np.asarray(y, dtype=np.float64) > 0.5, 1.0, -1.0)
    n, d = Z.shape
    w = np.zeros(d, dtype=np.float64)
    b = 0.0
    for _ in range(SVM_ITERS):
        z = b + (Z * w).sum(axis=1)
        viol = (yy * z) < 1.0
        gw = -(Z * (yy * viol)[:, None]).sum(axis=0) / n + SVM_L2 * w
        gb = -float((yy * viol).sum()) / n
        w = w - SVM_LR * gw
        b = b - SVM_LR * gb
    return w, b


def fit_svm_linear(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """Linear SVM by full-batch subgradient descent on the hinge loss
    with internal standardization folded back into raw-feature weights
    (same shape discipline as `fit_logreg`).  Returns (w_raw, b_raw)."""
    Xs, mu, sd = _standardize(np.ascontiguousarray(X, dtype=np.float64))
    w, b = _hinge_gd(Xs, y)
    return w / sd, float(b - float((w * mu / sd).sum()))


def _sigmoid(z: np.ndarray) -> np.ndarray:
    # scalar libm exp per element, NOT np.exp: numpy >= 1.22 ships its
    # own SIMD exp that can differ from glibc libm by 1 ulp, while the
    # qf_model_zoo oracle's DuckDB exp() IS libm — a scalar math.exp
    # loop keeps both engines on one code path (only runs over the
    # <= TRAIN_SAMPLE_MAX CV sample, never the corpus hot path).
    out = np.empty(len(z), dtype=np.float64)
    for i, v in enumerate(z.astype(np.float64, copy=False)):
        try:
            e = math.exp(-float(v))
        except OverflowError:  # libm would return +inf -> sigmoid 0.0
            e = math.inf
        out[i] = 1.0 / (1.0 + e)
    return out


# --------------------------------- RBF-kernel SVC via random Fourier
# features (round 4, closing the documented linear stand-in).  The
# reference zoo races SVC(kernel='rbf', probability=True)
# (tune_extended_classifier.py:196,213); a true kernel machine needs a
# stateful QP solver, but the Rahimi-Recht random-features map
# cos(w.x + b) with w ~ N(0, 2*gamma*I) approximates the RBF kernel
# and turns the fit into the SAME deterministic linear subgradient
# problem already used for `fit_svm_linear` — honest, from-scratch,
# and SQL-expressible (the oracle nests D cos() terms).

RFF_D = 16  # random features; SQL oracle nests D cos terms per fold


def _hash_unit(i: int) -> float:
    """Deterministic uniform in (0, 1) from an integer index — no RNG
    state, identical in any process (same discipline as `fit_rf_lite`'s
    bootstrap hashes)."""
    h = (i * _HASH_A + 12345) % (2 ** 32)
    return (h + 0.5) / 2.0 ** 32


def fit_svm_rff(X: np.ndarray, y: np.ndarray) -> dict:
    """RBF-approximating SVM: standardize, map through D random
    Fourier features z_k = sqrt(2/D) * cos(w_k . s + b_k) with
    w_k ~ N(0, 2*gamma*I) (gamma = 1/d, sklearn's 'scale' on
    standardized features), then hinge-loss subgradient descent in
    z-space.  All pseudo-randomness is integer-hash Box-Muller —
    deterministic in any process.  Returns a dict model
    {mu, sd, W, B, scale, w, b}; score via `svm_rff_margin`."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    d = X.shape[1]
    S, mu, sd = _standardize(X)
    gamma = 1.0 / d
    gstd = math.sqrt(2.0 * gamma)
    W = np.empty((RFF_D, d), dtype=np.float64)
    B = np.empty(RFF_D, dtype=np.float64)
    for k in range(RFF_D):
        for j in range(d):
            u1 = _hash_unit(k * 131 + j * 2 + 1)
            u2 = _hash_unit(k * 131 + j * 2 + 2)
            W[k, j] = gstd * math.sqrt(-2.0 * math.log(u1)) * math.cos(
                2.0 * math.pi * u2
            )
        B[k] = 2.0 * math.pi * _hash_unit(100003 + k)
    scale = math.sqrt(2.0 / RFF_D)
    w, b = _hinge_gd(_rff_features(S, W, B, scale), y)
    return {"mu": mu, "sd": sd, "W": W, "B": B, "scale": scale,
            "w": w, "b": float(b)}


def _rff_features(S: np.ndarray, W: np.ndarray, B: np.ndarray,
                  scale: float) -> np.ndarray:
    """scale * cos(B_k + sum_j W_kj * s_j): the feature map with the
    same left-to-right accumulation the oracle SQL nests
    (`affine_score`) and scalar libm cos (see `_sigmoid` for why not
    np.cos) — DuckDB's libm cos over the identically-nested chain
    produces bit-identical doubles."""
    n = len(S)
    Z = np.empty((n, len(B)), dtype=np.float64)
    for k in range(len(B)):
        zk = affine_score(S, (W[k], B[k]))
        for i in range(n):
            Z[i, k] = scale * math.cos(zk[i])
    return Z


def svm_rff_margin(X: np.ndarray, model: dict) -> np.ndarray:
    """margin = b + sum_k w_k * z_k, k-order accumulation (the oracle
    nests the identical chain); pred = margin > 0, proba =
    sigmoid(margin) (Platt-style unit scale, as the linear family)."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    S = (X - model["mu"]) / model["sd"]
    Z = _rff_features(S, model["W"], model["B"], model["scale"])
    return affine_score(Z, (model["w"], model["b"]))


def feature_importance_rows(
    rf_folds: list[list[dict]], gb_folds: list[dict]
) -> list[tuple[str, str, int]]:
    """(model, feature, gain_q9) triples from the recorded split gains
    of every CV-fold RF-lite forest and GB-stump ensemble — the raw
    input of qf_feature_importance (reference feature_importances_
    top-10, tune_extended_classifier.py:244-251).  Gains quantize to
    exact floor(g * 1e9) BIGINTs at the source so both engines sum
    integers (order-free) instead of doubles."""
    rows: list[tuple[str, str, int]] = []
    for forest in rf_folds:
        for tr in forest:
            for j, g in tr["gains"]:
                rows.append(
                    ("rf_lite", MODEL_FEATURES[int(j)],
                     int(math.floor(g * 1e9)))
                )
    for m in gb_folds:
        for j, g in zip(m["feat"], m["gain"]):
            rows.append(
                ("gb_stumps", MODEL_FEATURES[int(j)],
                 int(math.floor(float(g) * 1e9)))
            )
    return rows


def zoo_soft_vote_proba(
    X: np.ndarray,
    lr_model: tuple[np.ndarray, float],
    gb_model: dict,
    forest: list[dict],
    svm_model: dict,
) -> np.ndarray:
    """Reference soft VotingClassifier (`tune:208-218`, estimators rf /
    gb / lr / svm): mean of the four probabilities, fixed order
    (((rf + gb) + lr) + svm) / 4.  Probabilities: leaf fractions for
    RF, sigmoid of the boosted margin for GB, sigmoid of the affine
    score for LR, sigmoid of the RFF margin for the kernel SVC.  Sigmoids go through `_sigmoid`'s
    scalar math.exp loop (glibc libm), the same libm the oracle's
    DuckDB exp() calls — numpy's SIMD exp is deliberately avoided so
    bit-parity doesn't rest on a numpy-build coincidence (ADVICE r3);
    any residual divergence is still caught loudly by the hash gate."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    p_rf = rf_proba(X, forest)
    p_gb = _sigmoid(gb_score(X, gb_model))
    p_lr = _sigmoid(affine_score(X, lr_model))
    p_svm = _sigmoid(svm_rff_margin(X, svm_model))
    return (((p_rf + p_gb) + p_lr) + p_svm) / 4.0
