"""Sklearn-parity outlier learners (``Orange/classification/
outlier_detection.py:88,114,158`` — OneClassSVMLearner,
IsolationForestLearner, EllipticEnvelopeLearner; widget ``owoutliers.py``).

The reference wraps sklearn, which is driver-local and absent here, so the
learners are implemented natively with the sample-fit + broadcast-predict
shape of ``ml/learners.py:knn_classifier``:

  * FIT touches a BOUNDED, deterministically-chosen sample (a distributed
    top-N on a content hash — a parallel TakeOrdered, not a full sort);
    model state is kilobytes (trees / location+precision / RFF weights).
  * PREDICT is embarrassingly parallel: the model rides into an
    Arrow-batched pandas UDF (Isolation Forest, OCSVM) or — for the
    elliptic envelope — a pure Column quadratic form with broadcast
    constants (whole-stage codegen, no Python at all).

Every fit is a pure function of the data + seed: sampling is content-hash
ordered, tree randomness comes from a seeded numpy Generator, and the MCD
C-step start is the median-nearest half — so repeated runs (and the
driver's re-run) produce identical flags.

Replay oracles: the matrix-level fit functions (``fit_iforest_matrix``,
``fit_mcd_matrix``) are pure numpy, so ``plans/oracle_replay.py`` re-runs
them on the identical id-hash sample fetched through DuckDB and embeds
the fitted constants in exact SQL — turning the distributed predict path
into a hash-checkable query.  Isolation-forest depths are kept as
INTEGERS (steps×1e6 + quantized leaf correction) end to end, so no float
accumulation order can flip a flag.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import spread

#: fixed-point scale for isolation-forest path lengths (1 step = 1e6)
DSCALE = 1_000_000


def _features_col(cols: Sequence[str], array_col: Optional[str]):
    if array_col is not None:
        return F.col(array_col).cast("array<double>")
    return F.array(*[F.col(c).cast("double") for c in cols])


def _scores_udf_col(cols: Sequence[str], array_col: Optional[str],
                    scores_np, ret_type: str = "double",
                    width: Optional[int] = None):
    """Arrow-batched scoring column over the feature columns.

    With named ``cols`` the features cross the JVM→Python boundary as
    SEPARATE primitive double columns — flat Arrow buffers reassembled
    by ``column_stack`` in the exact column order; an ``array<double>``
    column serializes per-element on the JVM side and measured 2.7×
    slower at 600k rows (r10, guide §4: control HOW columns cross the
    boundary).  X holds bit-identical float64 values either way, and
    every ``scores_np`` here is row-local and batch-size-independent,
    so scores are unchanged.  ``array_col`` inputs keep the array path
    (the stored data is already an array)."""
    from pyspark.sql.functions import pandas_udf

    if array_col is None:
        p = len(cols)

        @pandas_udf(ret_type)
        def _f(*cs: pd.Series) -> pd.Series:
            import numpy as np
            if not len(cs[0]):
                return pd.Series(scores_np(np.zeros((0, p))))
            X = np.column_stack([c.to_numpy(np.float64) for c in cs])
            return pd.Series(scores_np(X))

        return _f(*[F.col(c).cast("double") for c in cols])

    w = width if width is not None else len(cols)

    @pandas_udf(ret_type)
    def _g(s: pd.Series) -> pd.Series:
        import numpy as np
        X = (np.stack([np.asarray(v, dtype=np.float64) for v in s])
             if len(s) else np.zeros((0, w)))
        return pd.Series(scores_np(X))

    return _g(_features_col(cols, array_col))


def _id_hash_key(id_cols: Sequence[str]):
    """md5 over '_'-joined id columns — trivially replayable in any SQL
    engine (``md5(CAST(id AS VARCHAR))``), unlike a JSON-of-floats key."""
    return F.md5(F.concat_ws(
        "_", *[F.col(c).cast("string") for c in id_cols]))


def _hash_sample(df: DataFrame, cols: Sequence[str],
                 array_col: Optional[str], n: int,
                 id_cols: Optional[Sequence[str]] = None):
    """Deterministic bounded sample: top-``n`` rows by a content hash —
    partition-layout-independent, a parallel top-k.  With ``id_cols`` the
    hash keys on the ids (replay-friendly); otherwise on the feature
    vector's JSON text."""
    feats = _features_col(cols, array_col).alias("_x")
    if id_cols:
        key = _id_hash_key(id_cols)
    else:
        key = F.md5(F.to_json(F.struct(feats.alias("v"))))
    base = df
    if array_col is None:
        base = base.na.drop(subset=list(cols))
    else:
        base = base.filter(~F.exists(F.col(array_col),
                                     lambda x: x.isNull()))
    # tie-break by the feature vector itself: the testdata plants rows
    # that share an id but differ in payload (lineitem dup ids), and a
    # hash-only sort would leave their order — and the limit boundary —
    # partition-dependent, breaking oracle replays
    rows = (base.select(feats, key.alias("_k"))
                .orderBy("_k", "_x").limit(n).collect())
    import numpy as np
    return np.asarray([r["_x"] for r in rows], dtype=np.float64)


def _avg_path_length(n) -> float:
    """c(n): average unsuccessful-search path length in a BST — the
    normalizer from the Isolation Forest paper (Liu/Ting/Zhou 2008)."""
    if n <= 1:
        return 0.0
    if n == 2:
        return 1.0
    h = math.log(n - 1) + 0.5772156649015329
    return 2.0 * h - 2.0 * (n - 1) / n


def fit_iforest_matrix(S, n_trees: int, psi: int, seed: int):
    """Grow the seeded forest on sample matrix ``S`` — pure numpy, shared
    verbatim by the Spark fit and the DuckDB oracle replay.

    Returns ``(trees, psi_eff)``; each tree is flat arrays
    ``(feat, thr, left, right, size, qc)`` with ``qc`` the leaf
    correction c(size) pre-quantized to ``DSCALE`` — all downstream depth
    arithmetic is int64."""
    import numpy as np

    if S.shape[0] == 0:
        raise ValueError("isolation_forest: empty input")
    rng = np.random.default_rng(seed)
    max_depth = max(1, math.ceil(math.log2(max(psi, 2))))
    trees = []
    for _ in range(n_trees):
        take = rng.choice(S.shape[0], size=min(psi, S.shape[0]),
                          replace=False)
        sample = S[take]
        feat, thr, left, right, size = [], [], [], [], []

        def build(idx, depth):
            node = len(feat)
            feat.append(-1), thr.append(0.0), left.append(-1)
            right.append(-1), size.append(len(idx))
            if depth >= max_depth or len(idx) <= 1:
                return node
            X = sample[idx]
            lo, hi = X.min(axis=0), X.max(axis=0)
            splittable = np.nonzero(hi > lo)[0]
            if splittable.size == 0:
                return node
            f = int(rng.choice(splittable))
            t = float(rng.uniform(lo[f], hi[f]))
            goes = X[:, f] < t
            feat[node], thr[node] = f, t
            left[node] = build(idx[goes], depth + 1)
            right[node] = build(idx[~goes], depth + 1)
            return node

        build(np.arange(sample.shape[0]), 0)
        s = np.asarray(size, dtype=np.float64)
        c_arr = np.zeros_like(s)
        c_arr[s == 2] = 1.0
        big = s > 2
        c_arr[big] = (2.0 * (np.log(s[big] - 1) + 0.5772156649015329)
                      - 2.0 * (s[big] - 1) / s[big])
        qc = np.floor(c_arr * DSCALE + 0.5).astype(np.int64)
        trees.append((np.asarray(feat), np.asarray(thr), np.asarray(left),
                      np.asarray(right), np.asarray(size), qc))
    return trees, min(psi, S.shape[0])


class IsolationForestModel:
    """Fitted forest: flat arrays per tree (feature, threshold, left,
    right, leaf-size, quantized-leaf-correction) — a few KB broadcast
    into the predict UDF.  Depths are exact int64 fixed-point
    (``steps*DSCALE + qc``), so flags are order- and engine-independent."""

    def __init__(self, trees, psi: int, cols, array_col, fit_qdepths=None):
        self.trees = trees
        self.psi = psi
        self.cols = list(cols)
        self.array_col = array_col
        self._fit_qdepths = fit_qdepths

    def _qdepths_np(self, X):
        """Summed quantized depth per row over all trees — int64 exact."""
        import numpy as np
        m = X.shape[0]
        qd = np.zeros(m, dtype=np.int64)
        if m == 0:
            return qd
        for feat, thr, left, right, _size, qc in self.trees:
            node = np.zeros(m, dtype=np.int64)
            done = np.zeros(m, dtype=bool)
            depth = np.zeros(m, dtype=np.int64)
            # level-by-level vectorized walk: gather each row's split
            for _ in range(64):
                f = feat[node]
                leaf = f < 0
                newly = leaf & ~done
                depth[newly] += qc[node[newly]]
                done |= leaf
                if done.all():
                    break
                active = ~done
                goes_left = X[active, f[active]] < thr[node[active]]
                nxt = np.where(goes_left, left[node[active]],
                               right[node[active]])
                node[active] = nxt
                depth[active] += DSCALE
            qd += depth
        return qd

    def qthreshold(self, contamination: float) -> int:
        """Integer depth cut from the FIT sample: the ``floor(c·m)``-th
        smallest summed depth; rows strictly below are outliers — the
        monotone image of sklearn's score-quantile threshold, kept in
        int space so both engines compare identical integers."""
        import numpy as np
        qd = np.sort(self._fit_qdepths)
        k = min(int(math.floor(contamination * qd.shape[0])),
                qd.shape[0] - 1)
        return int(qd[k])

    def predict(self, df: DataFrame, *, score_col: str = "score",
                flag_col: str = "is_outlier",
                qdepth_col: str = "qdepth",
                contamination: float = 0.1) -> DataFrame:
        qthr = self.qthreshold(contamination)
        norm = DSCALE * len(self.trees) * _avg_path_length(self.psi)
        out = spread(df).withColumn(
            qdepth_col, _scores_udf_col(self.cols, self.array_col,
                                        self._qdepths_np, "long"))
        out = out.withColumn(
            score_col,
            F.pow(F.lit(2.0), -F.col(qdepth_col).cast("double")
                  / F.lit(float(norm))))
        return out.withColumn(flag_col, F.col(qdepth_col) < F.lit(qthr))


def isolation_forest(df: DataFrame, cols: Sequence[str] = (), *,
                     array_col: Optional[str] = None, n_trees: int = 100,
                     psi: int = 256, seed: int = 42,
                     id_cols: Optional[Sequence[str]] = None
                     ) -> IsolationForestModel:
    """Fit an Isolation Forest on a hash-chosen sample
    (``IsolationForestLearner``, outlier_detection.py:114; Liu et al.).

    Each tree: uniform split feature + uniform threshold inside the node's
    value range, grown to ``ceil(log2 psi)`` depth or isolation.  All
    randomness flows from one seeded Generator → byte-stable refits.
    """
    S = _hash_sample(df, cols, array_col, max(n_trees * 4, psi * 2),
                     id_cols=id_cols)
    trees, psi_eff = fit_iforest_matrix(S, n_trees, psi, seed)
    model = IsolationForestModel(trees, psi_eff, cols, array_col)
    model._fit_qdepths = model._qdepths_np(S)
    return model


class EllipticEnvelopeModel:
    """Robust location + precision; predict is a pure Column quadratic
    form (broadcast constants, whole-stage codegen — no Python)."""

    def __init__(self, location, precision, cols, fit_sample=None):
        self.location = location
        self.precision = precision
        self.cols = list(cols)
        self._fit_sample = fit_sample

    def mahalanobis_sq(self):
        diffs = [F.col(c).cast("double") - F.lit(float(m))
                 for c, m in zip(self.cols, self.location)]
        q = F.lit(0.0)
        for i in range(len(self.cols)):
            for j in range(len(self.cols)):
                w = float(self.precision[i][j])
                if w:
                    q = q + diffs[i] * diffs[j] * F.lit(w)
        return q

    def threshold(self, contamination: float) -> float:
        """(1−contamination) quantile of the FIT sample's quadratic-form
        scores — sklearn semantics; keeps predict a single codegen scan
        (no extra quantile pass over the full table)."""
        return mcd_threshold(self._fit_sample, self.location,
                             self.precision, contamination)

    def predict(self, df: DataFrame, *, score_col: str = "maha_sq",
                flag_col: str = "is_outlier",
                contamination: float = 0.1) -> DataFrame:
        thr = self.threshold(contamination)
        out = df.withColumn(score_col, self.mahalanobis_sq())
        return out.withColumn(flag_col, F.col(score_col) > F.lit(thr))


def fit_mcd_matrix(S, support_fraction: Optional[float] = None,
                   max_csteps: int = 30):
    """Deterministic FastMCD on sample matrix ``S`` → (location,
    precision) lists — pure numpy, shared by Spark fit and oracle
    replay."""
    import numpy as np

    n, p = S.shape
    if n <= p:
        raise ValueError("elliptic_envelope: need more rows than columns")
    h = int(n * support_fraction) if support_fraction else (n + p + 1) // 2
    med = np.median(S, axis=0)
    d0 = ((S - med) ** 2).sum(axis=1)
    support = np.argsort(d0, kind="stable")[:h]
    for _ in range(max_csteps):
        sub = S[support]
        loc = sub.mean(axis=0)
        cov = np.cov(sub, rowvar=False, bias=True)
        cov += np.eye(p) * 1e-9 * max(1.0, np.trace(cov) / p)
        prec = np.linalg.inv(cov)
        diff = S - loc
        d = np.einsum("ij,jk,ik->i", diff, prec, diff)
        new = np.argsort(d, kind="stable")[:h]
        if np.array_equal(np.sort(new), np.sort(support)):
            break
        support = new
    sub = S[support]
    loc = sub.mean(axis=0)
    cov = np.cov(sub, rowvar=False, bias=True)
    cov += np.eye(p) * 1e-9 * max(1.0, np.trace(cov) / p)
    return loc.tolist(), np.linalg.inv(cov).tolist()


def mcd_threshold(S, location, precision, contamination: float) -> float:
    """Contamination threshold: (1−c) quantile of the fit sample's
    Mahalanobis² — one shared definition so the oracle replay embeds the
    exact constant the Spark predict compares against."""
    import numpy as np

    diff = np.asarray(S) - np.asarray(location)
    d = np.einsum("ij,jk,ik->i", diff, np.asarray(precision), diff)
    return float(np.quantile(d, 1.0 - contamination))


def elliptic_envelope(df: DataFrame, cols: Sequence[str], *,
                      max_samples: int = 2000,
                      support_fraction: Optional[float] = None,
                      max_csteps: int = 30,
                      id_cols: Optional[Sequence[str]] = None
                      ) -> EllipticEnvelopeModel:
    """Robust covariance à la FastMCD (``EllipticEnvelopeLearner``,
    outlier_detection.py:158; Rousseeuw & Van Driessen 1999), made
    deterministic: ONE start — the half of a hash-chosen sample nearest
    the coordinate-wise median — then C-steps (mean/cov of the support,
    re-rank all sample points by Mahalanobis, keep the h nearest) until
    the support set is stable.  The deterministic start replaces sklearn's
    500 random subsets; C-steps monotonically shrink det(cov) either way.
    """
    S = _hash_sample(df, cols, None, max_samples, id_cols=id_cols)
    loc, prec = fit_mcd_matrix(S, support_fraction, max_csteps)
    return EllipticEnvelopeModel(loc, prec, cols, fit_sample=S)


class OneClassSVMModel:
    """Linear one-class SVM in a random-Fourier-feature space approximating
    the RBF kernel (Rahimi & Recht 2007) — w, rho, and the RFF projection
    ride into an Arrow-batched scoring UDF."""

    def __init__(self, W, b, w, rho, cols):
        self.W, self.b, self.w, self.rho = W, b, w, rho
        self.cols = list(cols)

    def _scores_np(self, X):
        """Batch-size-independent scoring: the projection accumulates the
        p feature terms in a fixed Python loop and the final reduction is
        numpy's pairwise sum over the fixed RFF axis — no BLAS call whose
        kernel (and float rounding) depends on how many rows this Arrow
        batch happens to hold.  That makes every row's score a pure
        function of the row, so the oracle replay (plans/oracle_replay
        .ocsvm_oracle) reproduces it bit for bit."""
        import numpy as np
        XW = np.zeros((X.shape[0], self.W.shape[1]))
        for j in range(self.W.shape[0]):
            XW += X[:, j, None] * self.W[j]
        Z = np.sqrt(2.0 / self.W.shape[1]) * np.cos(XW + self.b)
        return (Z * self.w).sum(axis=1) - self.rho

    def predict(self, df: DataFrame, *, score_col: str = "svm_score",
                flag_col: str = "is_outlier") -> DataFrame:
        out = spread(df).withColumn(
            score_col, _scores_udf_col(self.cols, None, self._scores_np))
        return out.withColumn(flag_col, F.col(score_col) < 0)


def fit_ocsvm_matrix(S, *, nu: float = 0.5, gamma: Optional[float] = None,
                     n_features: int = 256, epochs: int = 100,
                     seed: int = 42):
    """Fit the RFF one-class SVM on sample matrix ``S`` — pure seeded
    numpy, shared verbatim by the Spark fit and the DuckDB oracle replay
    (plans/oracle_replay.ocsvm_oracle), so both produce bit-identical
    (W_eff, b_eff, w, rho)."""
    import numpy as np

    n, p = S.shape
    mu, sd = S.mean(axis=0), S.std(axis=0)
    sd[sd == 0] = 1.0
    S = (S - mu) / sd
    if gamma is None:
        gamma = 1.0 / p  # sklearn's "auto"
    rng = np.random.default_rng(seed)
    W = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(p, n_features))
    b = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    Z = np.sqrt(2.0 / n_features) * np.cos(S @ W + b)
    cap = 1.0 / (nu * n)
    alpha = np.full(n, 1.0 / n)
    for t in range(epochs):
        # K α without materializing K: Z (Zᵀ α) — O(n·n_features)
        g = Z @ (Z.T @ alpha)
        order = np.argsort(g, kind="stable")
        vertex = np.zeros(n)
        rem = 1.0
        for i in order:
            take = min(cap, rem)
            vertex[i] = take
            rem -= take
            if rem <= 0:
                break
        step = 2.0 / (t + 2.0)
        alpha = (1.0 - step) * alpha + step * vertex
    w = Z.T @ alpha
    rho = float(np.quantile(Z @ w, nu))
    # fold the standardization into the projection: x_std @ W = x @ W' + c
    W_eff = (W.T / sd).T
    b_eff = b - mu @ (W.T / sd).T
    return W_eff, b_eff, w, rho


def one_class_svm(df: DataFrame, cols: Sequence[str], *, nu: float = 0.5,
                  gamma: Optional[float] = None, n_features: int = 256,
                  max_samples: int = 2000, epochs: int = 100,
                  seed: int = 42,
                  id_cols: Optional[Sequence[str]] = None) -> OneClassSVMModel:
    """One-class SVM (``OneClassSVMLearner``, outlier_detection.py:88):
    RBF kernel approximated by seeded random Fourier features (Rahimi &
    Recht 2007), the ν-formulation DUAL (min ½αᵀKα over the capped
    simplex, Schölkopf et al. 2001) solved by deterministic Frank-Wolfe
    on the hash-chosen sample, and ρ set to the ν-quantile of the
    decision values — the dual optimality condition, giving ≈ν of the
    sample below the boundary.  Standardizes features first (the
    reference applies AdaptiveNormalize before the SVM).  With
    ``id_cols`` the sample key is an id hash — SQL-replayable, which is
    what lets q_outlier_ocsvm carry an exact oracle."""
    S = _hash_sample(df, cols, None, max_samples, id_cols=id_cols)
    W_eff, b_eff, w, rho = fit_ocsvm_matrix(
        S, nu=nu, gamma=gamma, n_features=n_features, epochs=epochs,
        seed=seed)
    return OneClassSVMModel(W_eff, b_eff, w, rho, cols)
