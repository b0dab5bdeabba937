"""Trained quality classifier — fastText-style hashed bag-of-words
filtering (Joulin et al. 2017; the GPT-3/CCNet "quality classifier"
filter family).

The reference engine has logistic regression but no text-classifier
pipeline (`Orange/classification/logistic_regression.py` wraps sklearn
over numeric domains only); a 100 TB pretraining pipeline needs the
fourth canonical filter family — rules (text/analysis.quality_signals),
lang-id (analysis.lang_id), LM perplexity (text/lm.py), and a TRAINED
classifier that learns "looks like the trusted slice" from weak labels.

Spark-first shape:

  * features are the hashing trick over whitespace tokens: bucket
    ``b(t) = int(md5(t)[:8], 16) % n_buckets``, feature ``x_b`` = the
    fraction of the document's tokens landing in bucket ``b`` — a ratio
    of two small integers, bit-identical in Spark and DuckDB (both
    divide exactly-representable ints as IEEE doubles).  The whole
    featurizer is one codegen pass (split → per-bucket ``F.filter``
    counts), no UDF, no shuffle, no vocabulary state;
  * the fit is `ml/learners.logistic_irls` on a deterministic id-hash
    slice of the corpus: each Newton iteration accumulates EXACT
    quantized-integer Hessian/gradient totals, so β is a pure function
    of the slice — independent of partitioning/batching, replayable by
    the oracle's `fit_logistic_irls_matrix` twin on a DuckDB fetch of
    the same rows;
  * scoring the full corpus is one codegen pass: a left-associated
    linear chain over the same feature expressions with β literals —
    the oracle mirrors the op tree node for node.

At 100 TB the fit cost is bounded by the sample threshold (the slice is
a parquet-pushable md5-prefix predicate) while scoring touches each row
exactly once with zero state — the same split the production filter
pipelines use (fit small, score everything).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.text.analysis import tokens

#: hashing-trick width — small enough that the (B+1)² exact-integer
#: Hessian stays a per-partition scalar packet, wide enough to separate
#: coarse token distributions (lang-id-style weak labels)
QCLF_BUCKETS = 16


def _bucket(t: Column, n_buckets: int) -> Column:
    """Token → hash bucket; md5-prefix → int is bit-identical in DuckDB
    (``CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % n``)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") \
        % F.lit(n_buckets)


def hashed_bow(docs: DataFrame, *, text_col: str = "text",
               n_buckets: int = QCLF_BUCKETS,
               keep: Sequence[str] = ()) -> DataFrame:
    """Hashing-trick featurizer: per row, ``x0..x{B-1}`` token-fraction
    doubles (plus ``keep`` passthrough columns).  Empty/null documents
    are dropped — they have no token distribution to classify."""
    toks = tokens(text_col)
    # hash each token ONCE into a bucket array, then count per bucket —
    # filtering the raw tokens per bucket would run md5 n_buckets times
    # per token inside interpreted HOFs (measured 16× the md5 work and
    # the slowest query in the suite before this split)
    bk = F.transform(toks, lambda t: _bucket(t, n_buckets))

    def _frac(b: int) -> Column:
        # NB: a one-arg lambda — a second (defaulted) parameter would be
        # read by PySpark as the HOF's (element, index) form
        return (F.size(F.filter(bk, lambda v: v == F.lit(b)))
                .cast("double") / F.size(toks)).alias(f"x{b}")

    cols = [_frac(b) for b in range(n_buckets)]
    return (docs.where(F.col(text_col).isNotNull() & (F.size(toks) > 0))
            .select(*keep, *cols))


def hashed_bow_agg(docs: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id",
                   n_buckets: int = QCLF_BUCKETS,
                   keep: Sequence[str] = ()) -> DataFrame:
    """`hashed_bow` twin for the FIT path: explode + one groupBy on
    ``id_col`` with per-bucket conditional sums.  Emits the identical
    ``x_b`` doubles (same integer counts, same division) but as narrow
    codegen expressions — the row-local 16-HOF projection pays a
    multi-second whole-stage-codegen compile that a bounded training
    slice never amortizes.  Costs one shuffle, so the full-corpus
    SCORING path keeps the stateless row-local `hashed_bow` (also the
    streamable one)."""
    from orange3_spark.session import spread

    # spread a 1-split scan before the per-token md5 work (no-op at
    # scale; per-doc counts are exact ints, partitioning-independent)
    tok = (spread(docs.where(F.col(text_col).isNotNull()))
           .select(*keep, id_col, F.explode(tokens(text_col)).alias("_t")))
    bk = _bucket(F.col("_t"), n_buckets)
    n = F.count(F.lit(1))
    aggs = [F.sum((bk == b).cast("long")).alias(f"_c{b}")
            for b in range(n_buckets)]
    g = tok.groupBy(*keep, id_col).agg(n.alias("_n"), *aggs)
    return g.select(*keep, id_col,
                    *[(F.col(f"_c{b}").cast("double") / F.col("_n"))
                      .alias(f"x{b}") for b in range(n_buckets)])


def margin_expr(beta: Sequence[float], n_buckets: int) -> Column:
    """β → the scoring Column: a LEFT-ASSOCIATED chain
    ``((β0 + x0·β1) + x1·β2) + …`` so the oracle can mirror the IEEE op
    tree exactly (plans/oracle_replay.quality_clf_oracle)."""
    m = F.lit(float(beta[0]))
    for b in range(n_buckets):
        m = m + F.col(f"x{b}") * F.lit(float(beta[b + 1]))
    return m


def quality_clf_fit(docs: DataFrame, label: Column, *,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    n_buckets: int = QCLF_BUCKETS,
                    sample_thr: str = "80000000",
                    iters: int = 6) -> list:
    """Fit the classifier on the id-hash slice ``md5(id)[:8] <
    sample_thr`` with weak labels ``label`` (any boolean Column over the
    input, e.g. ``F.col('lang') == 'en'`` or "is trusted source").
    Returns β = [intercept, coef_0 … coef_{B-1}] — a pure function of
    the slice (exact-integer IRLS; see module docstring)."""
    from orange3_spark.ml.learners import logistic_irls

    sl = docs.where(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
        < F.lit(sample_thr))
    feat = hashed_bow_agg(sl.withColumn("_y", label.cast("double")),
                          text_col=text_col, id_col=id_col,
                          n_buckets=n_buckets, keep=("_y",))
    return logistic_irls(feat, [f"x{b}" for b in range(n_buckets)],
                         "_y", iters=iters)


def quality_clf_score(docs: DataFrame, beta: Sequence[float], *,
                      text_col: str = "text",
                      n_buckets: int = QCLF_BUCKETS,
                      keep: Sequence[str] = (),
                      id_col: "str | None" = None) -> DataFrame:
    """Score every document, emitting the linear margin ``m``
    (keep-probability is monotone in ``m``; filter at ``m > 0``).

    Default path (``id_col=None``): the stateless row-local
    ``hashed_bow`` projection — no join, no shuffle, no state; the
    streamable form.  With ``id_col`` set, features come from
    ``hashed_bow_agg`` instead: the per-bucket counts are whole-stage
    codegen conditional sums over exploded tokens (one map-side-combined
    shuffle of B+1 longs per doc) where the row-local form pays B
    interpreted ``F.filter`` HOF passes per row (guide §4.1) — measured
    2.0→1.4 s on the sf0.1 scoring query.  Both paths emit the SAME
    integer counts, the same ``count/n`` IEEE division and the same
    left-associated margin chain, so ``m`` is bit-identical (the SQL
    oracle replays either)."""
    if id_col is not None:
        feat = hashed_bow_agg(docs, text_col=text_col, id_col=id_col,
                              n_buckets=n_buckets, keep=keep)
    else:
        feat = hashed_bow(docs, text_col=text_col, n_buckets=n_buckets,
                          keep=keep)
    return feat.withColumn("m", margin_expr(beta, n_buckets))
