"""Neural-network regressor (``Orange/regression/neural_network.py`` —
NNRegressionLearner wraps sklearn MLPRegressor; tests
``Orange/tests/test_nn.py``).

MLlib has an MLP *classifier* only (``ml/learners.py:mlp_classifier``
wraps it); for regression the reference's sklearn fit is driver-local
anyway, so the honest distributed mapping is the repo's standard
sample-fit + broadcast-predict shape (``ml/outlier_models.py``):

  * FIT — one hidden tanh layer trained full-batch with seeded
    deterministic gradient descent + momentum on an id-hash sample
    (standardized inputs/target); a pure function of (data, seed).
  * PREDICT — weights ride into an Arrow-batched pandas UDF; one linear
    scan, embarrassingly parallel at any scale.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.ml.svr import _sample_xy


def fit_mlp_matrix(X, y, *, hidden: int = 32, epochs: int = 400,
                   lr: float = 0.05, momentum: float = 0.9,
                   l2: float = 1e-4, seed: int = 42):
    """Deterministic full-batch GD with momentum on a 1-hidden-layer tanh
    MLP (standardized in/out; scaling folded back into the returned
    weights).  Pure numpy — refits are byte-stable."""
    import numpy as np

    n, p = X.shape
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    ym, ys = float(y.mean()), float(y.std()) or 1.0
    yn = (y - ym) / ys
    rng = np.random.default_rng(seed)
    W1 = rng.normal(0.0, 1.0 / math.sqrt(p), size=(p, hidden))
    b1 = np.zeros(hidden)
    w2 = rng.normal(0.0, 1.0 / math.sqrt(hidden), size=hidden)
    b2 = 0.0
    vW1 = np.zeros_like(W1)
    vb1 = np.zeros_like(b1)
    vw2 = np.zeros_like(w2)
    vb2 = 0.0
    for _ in range(epochs):
        H = np.tanh(Xs @ W1 + b1)
        out = H @ w2 + b2
        err = out - yn                      # d(½mse)/d(out)
        g_w2 = H.T @ err / n + l2 * w2
        g_b2 = float(err.mean())
        dH = np.outer(err, w2) * (1.0 - H * H)
        g_W1 = Xs.T @ dH / n + l2 * W1
        g_b1 = dH.mean(axis=0)
        vW1 = momentum * vW1 - lr * g_W1
        vb1 = momentum * vb1 - lr * g_b1
        vw2 = momentum * vw2 - lr * g_w2
        vb2 = momentum * vb2 - lr * g_b2
        W1 += vW1
        b1 += vb1
        w2 += vw2
        b2 += vb2
    # fold standardization in: x_std = (x − μ)/σ;  out_y = out·ys + ym
    W1_eff = (W1.T / sd).T
    b1_eff = b1 - mu @ (W1.T / sd).T
    return W1_eff, b1_eff, w2 * ys, b2 * ys + ym


class MLPRegressorModel:
    def __init__(self, W1, b1, w2, b2, cols, array_col=None):
        self.W1, self.b1, self.w2, self.b2 = W1, b1, w2, b2
        self.cols = list(cols)
        self.array_col = array_col

    def _predict_np(self, X):
        """Batch-size-independent scoring (same discipline as the SVM /
        OCSVM scorers): fixed-order accumulation over the p input terms
        and a pairwise sum over the fixed hidden axis — no BLAS kernel
        whose rounding depends on the Arrow batch's row count, so each
        row's prediction is a pure function of the row and the oracle
        replay (plans/oracle_replay.mlp_reg_oracle) reproduces it bit
        for bit."""
        import numpy as np
        XW = np.zeros((X.shape[0], self.W1.shape[1]))
        for j in range(self.W1.shape[0]):
            XW += X[:, j, None] * self.W1[j]
        H = np.tanh(XW + self.b1)
        return (H * self.w2).sum(axis=1) + self.b2

    def predict(self, df: DataFrame, *,
                pred_col: str = "prediction") -> DataFrame:
        from orange3_spark.ml.outlier_models import _scores_udf_col
        from orange3_spark.session import spread

        return spread(df).withColumn(
            pred_col, _scores_udf_col(self.cols, self.array_col,
                                      self._predict_np,
                                      width=self.W1.shape[0]))


def mlp_regressor(df: DataFrame, cols: Sequence[str] = (),
                  target: str = "y", *, array_col: Optional[str] = None,
                  hidden: int = 32, epochs: int = 400, lr: float = 0.05,
                  momentum: float = 0.9, l2: float = 1e-4,
                  max_samples: int = 2000, seed: int = 42,
                  id_cols: Optional[Sequence[str]] = None
                  ) -> MLPRegressorModel:
    """NNRegressionLearner equivalent: id-hash sample fit, Arrow predict."""
    X, y = _sample_xy(df, cols, array_col, target, max_samples,
                      id_cols=id_cols)
    W1, b1, w2, b2 = fit_mlp_matrix(X, y, hidden=hidden, epochs=epochs,
                                    lr=lr, momentum=momentum, l2=l2,
                                    seed=seed)
    return MLPRegressorModel(W1, b1, w2, b2, cols, array_col)
