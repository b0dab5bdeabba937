"""Probability calibration + threshold optimization.

Reference: ``Orange/classification/calibration.py`` — ``ThresholdLearner``
(pick the decision threshold maximizing CA or F1 on training scores) and
``CalibratedLearner`` (sigmoid/Platt or isotonic mapping from raw scores to
probabilities).

Spark-first shapes:

- **Threshold search** is a sort-free window computation: group by distinct
  score, cumulative TP/FP counts over score-descending order, evaluate
  CA/F1 at every candidate threshold, argmax.  Only (distinct-score, count)
  pairs flow through the window — the same rank-map trick the Spearman
  operators use — so it is oracle-checkable SQL and scales to any row
  count with bounded key cardinality.
- **Platt scaling** fits a 1-feature logistic regression (MLlib) on the
  scores; inference is a pure ``sigmoid(a*score+b)`` column.
- **Isotonic calibration** uses MLlib's distributed pool-adjacent-violators
  (``pyspark.ml.regression.IsotonicRegression``); pytest pins it against a
  literal PAV implementation.
- **Reliability curve** (the calibration diagnostic the reference plots):
  equal-width score bins → (mean score, empirical positive rate, count).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from orange3_spark.ml.learners import Model

__all__ = ["threshold_search", "platt_scaling", "isotonic_calibration",
           "reliability_curve"]


def threshold_search(df: DataFrame, score_col: str, label_col: str,
                     metric: str = "f1") -> DataFrame:
    """All candidate thresholds with their CA and F1.

    A row is predicted positive iff ``score >= threshold``; candidate
    thresholds are the distinct scores (every achievable confusion matrix).
    Returns ``(threshold, tp, fp, ca, f1)`` sorted best-first by ``metric``
    (ties: lower threshold, matching the reference's argmax-first on the
    descending-probability curve).
    """
    if metric not in ("f1", "ca"):
        raise ValueError("metric must be 'f1' or 'ca'")
    y = F.col(label_col).cast("double")
    per = (df.groupBy(F.col(score_col).cast("double").alias("threshold"))
             .agg(F.sum(y).alias("pos"), F.count(F.lit(1)).alias("n")))
    w = Window.orderBy(F.col("threshold").desc()) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = (df.agg(F.sum(y).alias("p_all"),
                  F.count(F.lit(1)).alias("n_all")).first())
    p_all, n_all = float(tot["p_all"]), float(tot["n_all"])
    cum = per.select(
        "threshold",
        F.sum("pos").over(w).alias("tp"),
        (F.sum("n").over(w) - F.sum("pos").over(w)).alias("fp"))
    out = cum.select(
        "threshold", "tp", "fp",
        ((F.col("tp") + F.lit(n_all) - F.lit(p_all) - F.col("fp"))
         / F.lit(n_all)).alias("ca"),
        (F.lit(2.0) * F.col("tp")
         / (F.col("tp") + F.col("fp") + F.lit(p_all))).alias("f1"))
    return out.orderBy(F.col(metric).desc(), F.col("threshold").asc())


def best_threshold(df: DataFrame, score_col: str, label_col: str,
                   metric: str = "f1") -> tuple:
    r = threshold_search(df, score_col, label_col, metric).first()
    return float(r["threshold"]), float(r[metric])


def platt_scaling(df: DataFrame, score_col: str, label_col: str,
                  *, max_iter: int = 100) -> Model:
    """Sigmoid calibration: logistic regression on the single score column.
    Inference is a codegen expression (no MLlib transform at predict time)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    # collapse to the distinct-score aggregate with instance weights — the
    # weighted likelihood is identical, and the fit then iterates over
    # ≤2×distinct-scores rows instead of the full table (for integer
    # scoring-sheet scores that's a handful of rows; never larger than df)
    per = (df.select(F.col(score_col).cast("double").alias("s"),
                     F.col(label_col).cast("double").alias("y"))
             .na.drop()
             .groupBy("s")
             .agg(F.sum("y").alias("_pos"),
                  F.count(F.lit(1)).alias("_n")))
    train = (per.select("s", F.lit(1.0).alias("y"),
                        F.col("_pos").cast("double").alias("w"))
                .unionByName(per.select(
                    "s", F.lit(0.0).alias("y"),
                    (F.col("_n") - F.col("_pos")).cast("double").alias("w")))
                .filter(F.col("w") > 0))
    from orange3_spark.session import right_size

    va = VectorAssembler(inputCols=["s"], outputCol="features")
    lr = LogisticRegression(featuresCol="features", labelCol="y",
                            weightCol="w", maxIter=max_iter)
    train = va.transform(train)
    train = right_size(train, train.count(), rows_per_task=20_000).cache()
    try:
        fit = lr.fit(train)
    finally:
        train.unpersist()
    a = float(fit.coefficients[0])
    b = float(fit.intercept)

    def _predict(d: DataFrame) -> DataFrame:
        z = F.col(score_col).cast("double") * F.lit(a) + F.lit(b)
        return d.withColumn("calibrated",
                            F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))

    m = Model(_predict, "platt")
    m.a, m.b = a, b
    return m


def isotonic_calibration(df: DataFrame, score_col: str,
                         label_col: str) -> Model:
    """Isotonic (PAV) calibration via MLlib's distributed
    IsotonicRegression: parallel PAV per partition + driver merge of the
    bounded (boundary, prediction) vectors."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    train = (df.select(F.col(score_col).cast("double").alias("s"),
                       F.col(label_col).cast("double").alias("y"))
               .na.drop())
    va = VectorAssembler(inputCols=["s"], outputCol="features")
    iso = IsotonicRegression(featuresCol="features", labelCol="y",
                             predictionCol="calibrated")
    fit = iso.fit(va.transform(train))

    def _predict(d: DataFrame) -> DataFrame:
        dd = VectorAssembler(inputCols=[score_col], outputCol="__feat") \
            .transform(d.withColumn(score_col,
                                    F.col(score_col).cast("double")))
        out = fit.setFeaturesCol("__feat").transform(dd)
        return out.drop("__feat")

    m = Model(_predict, "isotonic")
    m.boundaries = [float(v) for v in fit.boundaries]
    m.predictions = [float(v) for v in fit.predictions]
    return m


def reliability_curve(df: DataFrame, score_col: str, label_col: str,
                      bins: int = 10,
                      lo: Optional[float] = None,
                      hi: Optional[float] = None) -> DataFrame:
    """Equal-width reliability bins: ``(bin, n, mean_score, pos_rate)``.
    Min/max default to the observed range (one aggregate); the binning
    expression is the engine's equal-width discretizer shape."""
    s = F.col(score_col).cast("double")
    if lo is None or hi is None:
        r = df.agg(F.min(s).alias("lo"), F.max(s).alias("hi")).first()
        lo = float(r["lo"]) if lo is None else lo
        hi = float(r["hi"]) if hi is None else hi
    width = (hi - lo) / bins or 1.0
    b = F.least(F.floor((s - F.lit(lo)) / F.lit(width)),
                F.lit(bins - 1)).cast("int")
    return (df.groupBy(b.alias("bin"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.avg(s).alias("mean_score"),
                   F.avg(F.col(label_col).cast("double")).alias("pos_rate"))
              .orderBy("bin"))
