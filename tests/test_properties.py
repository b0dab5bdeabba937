"""Property-based tests (hypothesis): invariants that hold for ANY input,
mirroring the reference's randomized-fixture strategy (SURVEY §5) — filter
semantics vs a literal Python model, sampling partition-invariance, and the
winnowing guarantee."""

from __future__ import annotations

import math

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from orange3_spark.operators.filters import ContinuousOps, FilterContinuous

_floats = st.one_of(
    st.none(),
    st.just(float("nan")),
    st.floats(-100, 100, allow_nan=False))


@settings(max_examples=12, deadline=None)
@given(vals=st.lists(_floats, min_size=1, max_size=25),
       lo=st.floats(-50, 50, allow_nan=False),
       width=st.floats(0, 30, allow_nan=False),
       op=st.sampled_from([ContinuousOps.LESS, ContinuousOps.GREATER_EQUAL,
                           ContinuousOps.BETWEEN, ContinuousOps.OUTSIDE,
                           ContinuousOps.NOT_EQUAL,
                           ContinuousOps.IS_DEFINED]))
def test_filter_continuous_matches_python_model(spark, vals, lo, width, op):
    """Engine filters implement the reference's NULL semantics: comparisons
    never match NULL/NaN, except NOT_EQUAL which keeps them
    (sql/filter.py:53) and IS_DEFINED which selects the complement."""
    hi = lo + width
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, x double")

    def undefined(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    def model(v):
        if op == ContinuousOps.IS_DEFINED:
            return not undefined(v)
        if op == ContinuousOps.NOT_EQUAL:
            return undefined(v) or v != lo
        if undefined(v):
            return False
        if op == ContinuousOps.LESS:
            return v < lo
        if op == ContinuousOps.GREATER_EQUAL:
            return v >= lo
        if op == ContinuousOps.BETWEEN:
            return lo <= v <= hi
        if op == ContinuousOps.OUTSIDE:
            return v < lo or v > hi
        raise AssertionError(op)

    flt = FilterContinuous(column="x", op=op, ref=lo, max=hi)
    got = sorted(r.id for r in flt(df).collect())
    expect = sorted(i for i, v in rows if model(v))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(n=st.integers(5, 60), parts=st.integers(1, 8),
       frac=st.floats(0.1, 0.9))
def test_hash_sampling_partition_invariant(spark, n, parts, frac):
    """Content-hash sampling selects the same ROWS under any partitioning
    (the determinism contract seeded rand() cannot give)."""
    from orange3_spark.operators.sample import sample_hash

    df = spark.createDataFrame([(i,) for i in range(n)], "id long")
    a = sorted(r.id for r in sample_hash(df, "id", frac).collect())
    b = sorted(r.id for r in
               sample_hash(df.repartition(parts), "id", frac).collect())
    assert a == b


@settings(max_examples=8, deadline=None)
@given(prefix=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
       suffix=st.lists(st.sampled_from("qrstuvwx"), min_size=0, max_size=6),
       shared=st.lists(st.sampled_from("ijklmnop"), min_size=6, max_size=10))
def test_winnowing_guarantee(spark, prefix, suffix, shared):
    """Any two documents sharing a token run of length >= k + w - 1 share
    at least one winnowing fingerprint (k=3, w=4 -> run of 6)."""
    from orange3_spark.text.dedup import winnow_fingerprints

    t1 = " ".join([*prefix, *shared])
    t2 = " ".join([*shared, *suffix])
    df = spark.createDataFrame([(1, t1), (2, t2)], "doc_id int, text string")
    fp = winnow_fingerprints(df, k=3, w=4).collect()
    h1 = {r.fp_hash for r in fp if r.doc_id == 1}
    h2 = {r.fp_hash for r in fp if r.doc_id == 2}
    assert h1 & h2, (t1, t2)


def test_nan_is_missing_in_discretize_and_samevalue(spark):
    """NaN behaves as missing everywhere: no bin from discretize, and
    SameValue(NaN) selects the missing rows (NULL and NaN alike)."""
    from orange3_spark.operators.filters import SameValue
    from orange3_spark.preprocess.discretize import bucketize_expr

    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, None), (3, 9.0)], "id int, x double")
    bins = {r.id: r.b for r in
            df.select("id", bucketize_expr("x", [2.0, 5.0]).alias("b"))
              .collect()}
    assert bins == {0: 0, 1: None, 2: None, 3: 2}
    got = sorted(r.id for r in SameValue(column="x",
                                         value=float("nan"))(df).collect())
    assert got == [1, 2]


@settings(max_examples=10, deadline=None)
@given(n=st.integers(3, 40), cut=st.integers(1, 39), seed=st.integers(0, 99))
def test_scorers_are_batch_size_independent(n, cut, seed):
    """Every Arrow-batched scorer backing a replay oracle must produce
    bit-identical per-row outputs no matter how rows are batched —
    scoring [all rows] must equal scoring any split concatenated.
    (This is the invariant that makes the OCSVM/SVM/MLP oracles exact.)"""
    import numpy as np

    from orange3_spark.ml.neural import MLPRegressorModel, fit_mlp_matrix
    from orange3_spark.ml.outlier_models import (OneClassSVMModel,
                                                 fit_ocsvm_matrix)
    from orange3_spark.ml.svr import SVRModel, fit_svm_classifier_matrix

    rng = np.random.default_rng(seed)
    cut = min(cut, n - 1)
    Xtr = rng.normal(size=(50, 2))
    ytr = (rng.random(50) > 0.5).astype(float)
    X = rng.normal(size=(n, 2))

    W, b, w, rho = fit_ocsvm_matrix(Xtr, nu=0.2, seed=seed)
    m1 = OneClassSVMModel(W, b, w, rho, ["a", "b"])
    Wc, cc, wc, bc = fit_svm_classifier_matrix(Xtr, ytr, epochs=20,
                                               seed=seed)
    m2 = SVRModel(Wc, cc, wc, bc, ["a", "b"])
    W1, b1, w2, b2 = fit_mlp_matrix(Xtr, ytr, epochs=20, seed=seed)
    m3 = MLPRegressorModel(W1, b1, w2, b2, ["a", "b"])

    for model, fn in ((m1, m1._scores_np), (m2, m2._predict_np),
                      (m3, m3._predict_np)):
        whole = fn(X)
        split = np.concatenate([fn(X[:cut]), fn(X[cut:])])
        assert np.array_equal(whole, split), type(model).__name__


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=8)
    .map(lambda ws: " ".join(ws)),
    min_size=1, max_size=12),
    train_mod=st.integers(1, 3))
def test_bigram_lm_matches_python_model(spark, texts, train_mod):
    """Engine LM scores equal a literal Python bigram model for ANY
    corpus: same add-one smoothing, same integer fixed-point."""
    from orange3_spark.text.lm import LM_SCALE, bigram_lm_scores

    rows = [(i, t) for i, t in enumerate(texts)]
    train_ids = {i for i, _ in rows if i % train_mod == 0}

    # literal python model on the train slice
    c2: dict = {}
    c1: dict = {}
    vocab = set()
    for i, t in rows:
        toks = [w for w in t.strip().split() if w]
        if i in train_ids:
            vocab.update(toks)
            for a, b in zip(toks, toks[1:]):
                c2[(a, b)] = c2.get((a, b), 0) + 1
                c1[a] = c1.get(a, 0) + 1
    if not vocab:
        return                      # engine raises loudly on empty ref
    want = {}
    for i, t in rows:
        toks = [w for w in t.strip().split() if w]
        pqs = [((c2.get((a, b), 0) + 1) * LM_SCALE)
               // (c1.get(a, 0) + len(vocab))
               for a, b in zip(toks, toks[1:])]
        if pqs:
            want[i] = (len(pqs), sum(pqs), sum(pqs) // len(pqs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["sum_pq"], r["lm_q"])
           for r in bigram_lm_scores(
               df, train_filter=F.pmod(F.col("doc_id"),
                                       F.lit(train_mod)) == 0).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(
    st.lists(st.sampled_from(["ab", "ba", "aab", "bb", "a", "b"]),
             min_size=1, max_size=6).map(" ".join),
    min_size=1, max_size=8),
    n_merges=st.integers(1, 5))
def test_bpe_fit_matches_python_model_property(spark, texts, n_merges):
    """The distributed BPE fit equals the literal Sennrich token-scan
    model for ANY corpus: same pair counts (overlapping), same argmax
    tie-break, same merge application (non-overlapping left-to-right)."""
    import collections

    from orange3_spark.text.bpe import bpe_fit

    wc = collections.Counter(w for t in texts for w in t.split() if w)
    state = {w: list(w) + ["</w>"] for w in wc}
    merges = []
    for rank in range(n_merges):
        pc: collections.Counter = collections.Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, a, b, c))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got, words = bpe_fit(df, n_merges=n_merges)
    words.bpe_cache.unpersist()
    assert got == merges


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=30)
    .map(lambda cs: " ".join("".join(cs[i:i + 3])
                             for i in range(0, len(cs), 3))),
    min_size=1, max_size=6),
    divisor=st.sampled_from([2, 4, 8]))
def test_cdc_chunks_match_python_model_property(spark, texts, divisor):
    """CDC boundaries/chunks equal the literal rolling-gram model for
    ANY corpus and divisor; total tokens are preserved."""
    import hashlib

    from orange3_spark.text import dedup as TD

    def py_chunks(text, k=3):
        tk = [t for t in text.split() if t]
        chunks, cur = [], []
        for i, t in enumerate(tk):
            cur.append(t)
            if i >= k - 1:
                gram = " ".join(tk[i - k + 1:i + 1])
                h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
                if h % divisor == 0:
                    chunks.append(" ".join(cur))
                    cur = []
        if cur:
            chunks.append(" ".join(cur))
        return chunks

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = TD.cdc_chunks(df, divisor=divisor).collect()
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in rows:
        want = py_chunks(t)
        have = sorted(by_doc.get(i, []), key=lambda r: r["chunk_no"])
        assert len(have) == len(want)
        for r, w in zip(have, want):
            assert r["n_tok"] == len(w.split())
            assert r["chash"] == int(
                hashlib.md5(w.encode()).hexdigest()[:8], 16)


@settings(max_examples=8, deadline=None)
@given(counts=st.dictionaries(st.sampled_from("pqrs"),
                              st.integers(1, 500),
                              min_size=1, max_size=4),
       temp=st.floats(0.1, 1.0, allow_nan=False))
def test_temperature_targets_properties(counts, temp):
    """For any counts and T∈(0,1]: proportions sum to 1, order is
    preserved, and ratios compress monotonically toward uniform."""
    from orange3_spark.text.pipeline import temperature_targets

    t = temperature_targets(counts, temp)
    assert abs(sum(t.values()) - 1.0) < 1e-9
    ks = sorted(counts, key=counts.get)
    for a, b in zip(ks, ks[1:]):
        assert t[a] <= t[b] + 1e-12
    big, small = ks[-1], ks[0]
    if counts[big] > counts[small]:
        nat = counts[big] / counts[small]
        assert t[big] / t[small] <= nat + 1e-9


@settings(max_examples=20, deadline=None)
@given(h=st.integers(1, 40), w=st.integers(1, 40),
       seed=st.integers(0, 2**32 - 1),
       bo=st.sampled_from(["II", "MM"]),
       comp=st.sampled_from(["none", "lzw", "deflate", "packbits"]),
       pred=st.booleans(), bits=st.sampled_from([8, 16]),
       storage=st.sampled_from(["single", "strips", "tiled", "planar"]))
def test_tiff_roundtrip_property(h, w, seed, bo, comp, pred, bits, storage):
    """TIFF is lossless: for ANY image shape and content, every
    (byte order x compression x predictor x bit depth x storage)
    combination round-trips pixel-exact — the fixed matrices pin known
    shapes, this pins the codec against arbitrary ones (odd
    dimensions, 1-pixel edges, tile grids larger than the image)."""
    import numpy as np

    from orange3_spark.multimodal.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    kw = {"single": {}, "strips": {"rows_per_strip": 3},
          "tiled": {"tile": (16, 16)}, "planar": {"planar": True}}[storage]
    blob = encode_tiff(img, byte_order=bo, compression=comp,
                       predictor=pred, bits=bits, **kw)
    assert np.array_equal(decode_tiff(blob), img)


@settings(max_examples=20, deadline=None)
@given(h=st.integers(1, 32), w=st.integers(1, 32),
       seed=st.integers(0, 2**32 - 1),
       predictor=st.integers(1, 7), bits=st.sampled_from([8, 16]),
       interleaved=st.booleans())
def test_jpeg_lossless_roundtrip_property(h, w, seed, predictor, bits,
                                          interleaved):
    """Lossless JPEG (SOF3) is lossless for ANY content: arbitrary
    shapes and random rasters round-trip pixel-exact under every
    predictor, precision, and scan layout — including the mod-2^16
    wrap and SSSS=16 paths random 16-bit data exercises."""
    import numpy as np

    from orange3_spark.multimodal.jpeg import (decode_jpeg,
                                               encode_jpeg_lossless)

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    blob = encode_jpeg_lossless(img, predictor=predictor, bits=bits,
                                interleaved=interleaved)
    assert np.array_equal(decode_jpeg(blob), img)


_vec_elems = st.one_of(
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), 0.0, -0.0]),
    st.floats(-10, 10, allow_nan=False))


@settings(max_examples=10, deadline=None)
@given(vecs=st.lists(st.one_of(st.none(),
                               st.lists(_vec_elems, min_size=2, max_size=4)),
                     min_size=1, max_size=12),
       seed=st.integers(0, 1000))
@example(vecs=[[float("nan"), 1.0, -2.0], [1.0, 2.0, 3.0]], seed=0)
@example(vecs=[[1.0, None, 2.0]], seed=0)
def test_lsh_buckets_udf_matches_jvm_signature(spark, vecs, seed):
    """The vectorized LSH bucket UDF sets exactly the bits of the JVM
    ``lsh_signature`` fold for any vector: a NaN projection sets its bit
    (Spark orders NaN above every double), ±inf and ±0 follow IEEE, and
    NULL rows, rows with a NULL element and wrong-length rows get
    signature 0 in every table."""
    from orange3_spark.similarity.knn import (_has_null, _lsh_buckets_udf,
                                              hyperplanes, lsh_signature)

    dim = 3
    tables = [hyperplanes(dim, 5, seed + 7919 * t) for t in range(2)]
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "id int, v array<double>")
    jvm = F.array(*[F.concat_ws(":", F.lit(str(t)),
                                lsh_signature("v", P).cast("string"))
                    for t, P in enumerate(tables)])
    udf = _lsh_buckets_udf(tables, dim)(F.col("v"), _has_null(F.col("v")))
    rows = df.select("id", udf.alias("udf"), jvm.alias("jvm")).collect()
    for r in rows:
        assert r.udf == r.jvm, (vecs[r.id], r.udf, r.jvm)


_vecs = st.one_of(st.none(), st.lists(_vec_elems, max_size=4))


@settings(max_examples=10, deadline=None)
@given(pairs=st.lists(st.tuples(_vecs, _vecs), min_size=1, max_size=12))
@example(pairs=[([1.0, float("nan"), 2.0], [1.0, 1.0, 1.0]),
                ([1.0, None, 2.0], [1.0, 2.0, 3.0]),
                ([-0.0], [1.0]), ([], [])])
def test_seq_norm_dot_udfs_match_jvm_folds(spark, pairs):
    """The vectorized norm and dot UDFs return exactly what the JVM
    ``norm``/``dot`` folds return, bit for bit: NaN where a NaN element
    makes the fold NaN, NULL for NULL rows, rows with a NULL element and
    (dot) unequal lengths, IEEE results for ±inf and ±0 — so the LSH
    near-dup path's ``score >= threshold`` keeps and drops the pairs
    the fold would."""
    from orange3_spark.similarity.knn import (_has_null, _seq_dot_udf,
                                              _seq_norm_udf, dot, norm)

    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)],
                               "id int, a array<double>, b array<double>")
    a, b = F.col("a"), F.col("b")
    rows = df.select(
        "id", _seq_norm_udf()(a, _has_null(a)).alias("un"),
        norm(a).alias("jn"),
        _seq_dot_udf()(a, b, _has_null(a) | _has_null(b)).alias("ud"),
        dot(a, b).alias("jd")).collect()
    for r in rows:
        # repr tells NaN, NULL (None) and -0.0 apart
        assert repr(r.un) == repr(r.jn), (pairs[r.id], r.un, r.jn)
        assert repr(r.ud) == repr(r.jd), (pairs[r.id], r.ud, r.jd)
