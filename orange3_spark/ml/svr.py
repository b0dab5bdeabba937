"""Support-vector regression (``Orange/regression/svm.py:11,22,33`` —
SVRLearner, LinearSVRLearner, NuSVRLearner; sklearn wraps in the
reference, absent here).

Spark-first shape (same contract as ``ml/outlier_models.py``): the fit
touches a BOUNDED hash-chosen sample (kernel SVR is O(n²) in support
vectors — sklearn itself caps out well under distributed row counts), and
the predictor is a broadcast (w, b) pair applied Arrow-batched (RBF via
the seeded random-Fourier-feature map of Rahimi & Recht 2007) or as a pure
Column expression (linear).  Every step is deterministic: hash sampling,
seeded RFF draw, fixed-schedule subgradient descent.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.ml.outlier_models import _features_col, _hash_sample


def _fit_eps_insensitive(Z, y, *, epsilon: float, lam: float,
                         epochs: int, nu: Optional[float] = None):
    """Deterministic subgradient descent on the ε-insensitive primal
    ½λ‖w‖² + mean(max(0, |y − Zw − b| − ε)); ``nu`` switches to the
    ν-SVR re-parameterization (ε re-set each epoch to the (1−ν)-quantile
    of |residuals|, so ≈ν of the sample ends outside the tube)."""
    import numpy as np

    n, d = Z.shape
    w = np.zeros(d)
    b = float(np.median(y))
    eps = epsilon
    for t in range(epochs):
        lr = 1.0 / (lam * (t + 1) + 10.0)
        r = y - Z @ w - b
        if nu is not None:
            eps = float(np.quantile(np.abs(r), 1.0 - nu))
        outside = np.abs(r) > eps
        sgn = np.sign(r) * outside
        gw = lam * w - (Z.T @ sgn) / n
        gb = -sgn.sum() / n
        w -= lr * gw
        b -= lr * gb
    return w, b, eps


class SVRModel:
    """Broadcast (W, c, w, b): score = RFF(x)·w + b, or x·w + b when the
    RFF projection is None (linear)."""

    def __init__(self, W, c, w, b, cols, array_col=None):
        self.W, self.c, self.w, self.b = W, c, w, b
        self.cols = list(cols)
        self.array_col = array_col

    def _predict_np(self, X):
        """Batch-size-independent scoring (same discipline as
        OneClassSVMModel._scores_np): fixed-order accumulation over the p
        feature terms and a pairwise sum over the fixed RFF axis — no
        BLAS kernel whose rounding depends on the Arrow batch's row
        count, so each row's score is a pure function of the row and the
        oracle replay (plans/oracle_replay.svm_oracle) reproduces it bit
        for bit."""
        import numpy as np
        if self.W is None:
            out = np.full(X.shape[0], float(self.b))
            for j in range(X.shape[1]):
                out += X[:, j] * self.w[j]
            return out
        XW = np.zeros((X.shape[0], self.W.shape[1]))
        for j in range(self.W.shape[0]):
            XW += X[:, j, None] * self.W[j]
        Z = np.sqrt(2.0 / self.W.shape[1]) * np.cos(XW + self.c)
        return (Z * self.w).sum(axis=1) + self.b

    def predict(self, df: DataFrame, *,
                pred_col: str = "prediction") -> DataFrame:
        if self.W is None:
            # linear: stay in whole-stage codegen, no Python
            expr = F.lit(float(self.b))
            for c, wi in zip(self.cols, self.w):
                if wi:
                    expr = expr + F.col(c).cast("double") * F.lit(float(wi))
            return df.withColumn(pred_col, expr)
        from orange3_spark.ml.outlier_models import _scores_udf_col
        from orange3_spark.session import spread

        return spread(df).withColumn(
            pred_col, _scores_udf_col(self.cols, self.array_col,
                                      self._predict_np,
                                      width=self.W.shape[0]))


def _sample_xy(df, cols, array_col, target, max_samples, id_cols=None):
    import numpy as np

    base = df.filter(F.col(target).isNotNull())
    if array_col is None:
        # Named-cols fast path (guide §4.1 prefer codegen over HOFs):
        # the generic path below null-filters the concatenated feature
        # array with an interpreted per-row exists() lambda inside
        # _hash_sample; dropping nulls on the CAST columns keeps the
        # identical row set (an array element is null iff its cast
        # column is) through whole-stage codegen — measured 1.15→0.71 s
        # on the mlp_reg sample select at sf0.1.  Key expression,
        # (_k, _x) tie-break order and limit are unchanged, so the
        # returned sample is bit-identical.
        from orange3_spark.ml.outlier_models import _id_hash_key

        names = [f"_f{i}" for i in range(len(cols) + 1)]
        srcs = [F.col(c).cast("double") for c in [*cols, target]]
        elems = [s.alias(n) for s, n in zip(srcs, names)]
        arr = F.array(*[F.col(n) for n in names])
        key = (_id_hash_key(id_cols) if id_cols
               else F.md5(F.to_json(F.struct(F.array(*srcs).alias("v")))))
        rows = (base.select(*elems, key.alias("_k"))
                    .na.drop(subset=names)
                    .select(arr.alias("_x"), "_k")
                    .orderBy("_k", "_x").limit(max_samples).collect())
        S = np.asarray([r["_x"] for r in rows], dtype=np.float64)
    else:
        feats = _features_col(cols, array_col)
        aug = base.withColumn("_xy", F.concat(
            feats, F.array(F.col(target).cast("double"))))
        S = _hash_sample(aug, [], "_xy", max_samples, id_cols=id_cols)
    return np.asarray(S[:, :-1]), np.asarray(S[:, -1])


def svr(df: DataFrame, cols: Sequence[str] = (), target: str = "y", *,
        array_col: Optional[str] = None, epsilon: float = 0.1,
        gamma: Optional[float] = None, lam: float = 1e-3,
        n_features: int = 256, max_samples: int = 2000,
        epochs: int = 300, seed: int = 42) -> SVRModel:
    """RBF ε-SVR (``SVRLearner``): standardize, seeded RFF map, then the
    deterministic ε-insensitive subgradient fit.  ε is in units of the
    target's scale (like sklearn)."""
    import numpy as np

    X, y = _sample_xy(df, cols, array_col, target, max_samples)
    n, p = X.shape
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    if gamma is None:
        gamma = 1.0 / p
    rng = np.random.default_rng(seed)
    W = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(p, n_features))
    c = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    Z = np.sqrt(2.0 / n_features) * np.cos(Xs @ W + c)
    w, b, _ = _fit_eps_insensitive(Z, y, epsilon=epsilon, lam=lam,
                                   epochs=epochs)
    # fold standardization into the projection
    W_eff = (W.T / sd).T
    c_eff = c - mu @ (W.T / sd).T
    return SVRModel(W_eff, c_eff, w, b, cols, array_col)


def nu_svr(df: DataFrame, cols: Sequence[str] = (), target: str = "y", *,
           array_col: Optional[str] = None, nu: float = 0.5,
           gamma: Optional[float] = None, lam: float = 1e-3,
           n_features: int = 256, max_samples: int = 2000,
           epochs: int = 300, seed: int = 42) -> SVRModel:
    """ν-SVR (``NuSVRLearner``): the tube width adapts so ≈ν of the
    sample sits outside it."""
    import numpy as np

    X, y = _sample_xy(df, cols, array_col, target, max_samples)
    n, p = X.shape
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    if gamma is None:
        gamma = 1.0 / p
    rng = np.random.default_rng(seed)
    W = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(p, n_features))
    c = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    Z = np.sqrt(2.0 / n_features) * np.cos(Xs @ W + c)
    w, b, _ = _fit_eps_insensitive(Z, y, epsilon=0.0, lam=lam,
                                   epochs=epochs, nu=nu)
    W_eff = (W.T / sd).T
    c_eff = c - mu @ (W.T / sd).T
    return SVRModel(W_eff, c_eff, w, b, cols, array_col)


def _fit_hinge(Z, y, *, lam: float, epochs: int):
    """Deterministic subgradient descent on the soft-margin hinge primal
    ½λ‖w‖² + mean(max(0, 1 − y(Zw + b))), y ∈ {−1, +1} — the linear-SVC
    core the RFF map turns into an RBF-kernel SVC."""
    import numpy as np

    n, d = Z.shape
    w = np.zeros(d)
    b = 0.0
    for t in range(epochs):
        lr = 1.0 / (lam * (t + 1) + 10.0)
        viol = (y * (Z @ w + b)) < 1.0
        yv = y * viol
        gw = lam * w - (Z.T @ yv) / n
        gb = -yv.sum() / n
        w -= lr * gw
        b -= lr * gb
    return w, b


class SVMClassifierModel:
    """Broadcast (W, c, w, b): margin = RFF(x)·w + b, prediction =
    margin > 0.  ``W is None`` → linear (pure Column codegen)."""

    def __init__(self, W, c, w, b, cols, array_col=None):
        self._scorer = SVRModel(W, c, w, b, cols, array_col)

    def predict(self, df: DataFrame, *, margin_col: str = "margin",
                pred_col: str = "prediction") -> DataFrame:
        out = self._scorer.predict(df, pred_col=margin_col)
        return out.withColumn(pred_col, F.col(margin_col) > 0)


def svm_classifier(df: DataFrame, cols: Sequence[str] = (),
                   label_col: str = "label", *,
                   array_col: Optional[str] = None,
                   gamma: Optional[float] = None, lam: float = 1e-3,
                   n_features: int = 256, max_samples: int = 2000,
                   epochs: int = 200, seed: int = 42,
                   id_cols: Optional[Sequence[str]] = None
                   ) -> SVMClassifierModel:
    """RBF-kernel SVM classifier (``Orange/classification/svm.py`` —
    SVMLearner wraps sklearn SVC, kernel='rbf' default;
    ``Orange/tests/test_svm.py``): standardize, seeded random-Fourier
    map (Rahimi & Recht 2007 — the same approximation powering ``svr``
    and ``one_class_svm``), deterministic hinge fit on an id-hash
    sample; predict is Arrow-batched and embarrassingly parallel.
    ``label_col`` is boolean / 0-1; internally mapped to ±1."""
    X, y01 = _sample_xy(df, cols, array_col, label_col, max_samples,
                        id_cols=id_cols)
    W_eff, c_eff, w, b = fit_svm_classifier_matrix(
        X, y01, gamma=gamma, lam=lam, n_features=n_features,
        epochs=epochs, seed=seed)
    return SVMClassifierModel(W_eff, c_eff, w, b, cols, array_col)


def fit_svm_classifier_matrix(X, y01, *, gamma=None, lam: float = 1e-3,
                              n_features: int = 256, epochs: int = 200,
                              seed: int = 42):
    """Fit the RFF hinge classifier on sample matrix ``X`` — pure seeded
    numpy, shared verbatim by the Spark fit and the DuckDB oracle replay
    (plans/oracle_replay.svm_oracle)."""
    import numpy as np

    y = np.where(y01 > 0, 1.0, -1.0)
    n, p = X.shape
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    if gamma is None:
        gamma = 1.0 / p
    rng = np.random.default_rng(seed)
    W = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(p, n_features))
    c = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    Z = np.sqrt(2.0 / n_features) * np.cos(Xs @ W + c)
    w, b = _fit_hinge(Z, y, lam=lam, epochs=epochs)
    W_eff = (W.T / sd).T
    c_eff = c - mu @ (W.T / sd).T
    return W_eff, c_eff, w, b


def fit_linear_svr_matrix(X, y, *, epsilon: float = 0.1, lam: float = 1e-3,
                          epochs: int = 300):
    """Standardize → ε-insensitive fit → fold the scaling back out.
    Pure numpy on the sample matrix, shared verbatim by the Spark fit and
    the DuckDB oracle replay (``plans/oracle_replay.py``)."""
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    w, b, _ = _fit_eps_insensitive(Xs, y, epsilon=epsilon, lam=lam,
                                   epochs=epochs)
    # un-standardize: y = (x−μ)/σ · w + b = x·(w/σ) + (b − μ·(w/σ))
    w_eff = w / sd
    b_eff = b - float(mu @ w_eff)
    return w_eff, b_eff


def linear_svr(df: DataFrame, cols: Sequence[str] = (), target: str = "y",
               *, epsilon: float = 0.1, lam: float = 1e-3,
               max_samples: int = 4000, epochs: int = 300,
               id_cols: Optional[Sequence[str]] = None) -> SVRModel:
    """Linear ε-SVR (``LinearSVRLearner``): same fit in the ORIGINAL
    feature space; predict is a pure Column expression (codegen)."""
    X, y = _sample_xy(df, cols, None, target, max_samples, id_cols=id_cols)
    w_eff, b_eff = fit_linear_svr_matrix(X, y, epsilon=epsilon, lam=lam,
                                         epochs=epochs)
    return SVRModel(None, None, w_eff, b_eff, cols)
