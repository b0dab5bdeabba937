"""Scale smoke: run the scale-critical operator families at 1x and Nx the
sf0.1 corpus (replicated in memory with id offsets; half the replicas get a
perturbing token so the dedup family sees BOTH exact-copy pressure and
near-dup pressure) and report wall-clock scaling ratios.

A blocked/bucketed operator should scale roughly linearly in rows (ratio ≈
N, give or take fixed overheads); a quadratic one would show ≈ N².  This is
the empirical check behind the "would this hold at 100 TB" claims in
SURVEY §7 / PERF_NOTES — plan shape says it shouldn't blow up, this script
measures that it doesn't.

Usage: python scripts/scale_smoke.py [N]      (default N=10)
Prints one JSON line per operator: {op, t1, tN, ratio, n=N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from orange3_spark.session import get_spark, load_tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate_docs(docs, n):
    """n copies; odd replicas get a unique trailing token (near-dups of
    their source), even replicas are exact copies (dup pressure)."""
    r = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_r")
    out = docs.select("doc_id", "text", "lang", "source", r)
    return out.select(
        (F.col("doc_id") + F.col("_r") * F.lit(10_000_000)).alias("doc_id"),
        F.when(F.col("_r") % 2 == 1,
               F.concat_ws(" ", "text",
                           F.concat(F.lit("u"), F.col("_r").cast("string"))))
         .otherwise(F.col("text")).alias("text"),
        "lang", "source")


def replicate_emb(emb, n):
    r = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_r")
    out = emb.select("vec_id", "embedding", "label", r)
    shift = F.col("_r").cast("float") * F.lit(0.001)
    return out.select(
        (F.col("vec_id") + F.col("_r") * F.lit(10_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x + shift).alias("embedding"),
        "label")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, SF_DIR, ("documents", "embeddings", "lineitem"))
    docs, emb, li = t["documents"], t["embeddings"], t["lineitem"]

    from orange3_spark.operators.groupby import salted_aggregate
    from orange3_spark.similarity.knn import ivf_knn
    from orange3_spark.similarity.pq import pq_adc_topk, pq_fit
    from orange3_spark.text import dedup as TD
    from orange3_spark.text import lm as LM
    from orange3_spark.text.analysis import repetition_stats

    def _pq_adc_count(e):
        qv = e.orderBy("vec_id").select("embedding").limit(1).collect()[0][0]
        enc, cents = pq_fit(e, "vec_id", array_col="embedding",
                            m=4, k=16, n_iter=2)
        n_ = pq_adc_topk(enc, cents, qv, id_col="vec_id", n=10).count()
        enc.pq_cache.unpersist()
        return n_

    from orange3_spark.operators.graph import pagerank_topk
    from orange3_spark.similarity.quantize import quantize_int8_summary
    from orange3_spark.stats.sketches import hll_distinct, quantile_bins
    from orange3_spark.text.analysis import boilerplate_fraction
    from orange3_spark.text.bpe import bpe_fit
    from orange3_spark.text.quality_clf import (quality_clf_fit,
                                                quality_clf_score)

    def _bpe_fit_count(d):
        merges, words = bpe_fit(d, n_merges=4)
        words.bpe_cache.unpersist()
        return len(merges)

    def _qclf_count(d):
        beta = quality_clf_fit(d, F.col("lang") == "en", iters=3)
        return quality_clf_score(d, beta).count()

    def ops(d, e, ln):
        # NOTE on dup_clusters: replicating every doc k times makes each
        # duplicate GROUP emit ~k²/2 pairs, so the operator's INPUT grows
        # quadratically with the replication factor by construction.  The
        # operator itself is linear in pairs — so its budget below is n²,
        # not n, and the record carries the measured pair growth.
        yield ("dedup_exact", n,
               lambda: TD.dedup_exact(d).count())
        yield ("dedup_minhash", n * n,
               lambda: TD.dedup_minhash(d, n=3, threshold=0.5).count())
        yield ("simhash_near_dups", n * n,
               lambda: TD.simhash_near_dups(d, max_hamming=4).count())
        yield ("dup_clusters", n * n,
               lambda: TD.dup_clusters(
                   TD.jaccard_pairs(d, n=3, threshold=0.5)
                   .select("id_a", "id_b")).count())
        yield ("repetition_stats", n,
               lambda: repetition_stats(d, n=2).count())
        yield ("ivf_knn", n,
               lambda: ivf_knn(e, e.limit(50), k=5, n_cells=16,
                               nprobe=2, n_iter=2).count())
        yield ("salted_groupby", n,
               lambda: salted_aggregate(
                   ln, ["l_returnflag"],
                   {"l_quantity": ["sum"], "l_extendedprice": ["mean"]}).count())
        # bigram LM: model fit + corpus scoring are both linear scans;
        # the model table grows sub-linearly (vocab saturates under
        # replication), so the whole op should track n
        yield ("bigram_lm_scores", n,
               lambda: LM.bigram_lm_scores(
                   d, train_filter=F.pmod(F.col("doc_id"), F.lit(10)) == 0)
               .count())
        # PQ: n_iter linear scans (fit) + one encode scan + one ADC scan
        yield ("pq_adc", n,
               lambda: _pq_adc_count(e))
        # BPE: one corpus scan, then merge rounds over the word table —
        # the word table SATURATES under replication (same words), so
        # the fit should grow sub-linearly
        yield ("bpe_fit", n,
               lambda: _bpe_fit_count(d))
        # CDC: two partitioned windows + one groupBy — linear
        yield ("cdc_chunk_stats", n,
               lambda: TD.cdc_chunk_stats(d).count())
        # quality classifier: IRLS iterations over the hash slice + one
        # scoring scan — linear
        yield ("quality_clf", n,
               lambda: _qclf_count(d))
        # HLL: linear scan into bounded register state
        yield ("hll_distinct", n,
               lambda: hll_distinct(d.select("source", "doc_id"),
                                    "doc_id", group_by="source").count())
        # quantile sketch: linear scan into <= n_bins keys per group
        yield ("quantile_bins", n,
               lambda: quantile_bins(ln, "l_extendedprice",
                                     group_by="l_returnflag", n_bins=256,
                                     lo=900.0, hi=105000.0).count())
        # boilerplate: gram-key groupBy (map-side combine) + join back —
        # linear in gram positions
        yield ("boilerplate", n,
               lambda: boilerplate_fraction(d, n=5, min_docs=3).count())
        # line dedup: explode + distinct + anti join + reassembly — linear
        yield ("line_dedup", n,
               lambda: TD.dedup_lines(d, sep=" the ",
                                      min_docs=3).count())
        # int8 quantization: row-local explode + per-vector window — linear
        yield ("quantize_int8", n,
               lambda: quantize_int8_summary(e).count())
        # pagerank: the edge-derivation scan is linear; the distinct edge
        # set SATURATES under replication, so iterations are ~constant
        yield ("pagerank", n,
               lambda: pagerank_topk(
                   ln.select(F.pmod(F.col("l_orderkey"),
                                    F.lit(997)).cast("string").alias("src"),
                             F.col("l_suppkey").cast("string").alias("dst")),
                   k=10, iterations=2).count())

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 3)

    small = {name: (budget, fn) for name, budget, fn in ops(docs, emb, li)}
    big = {name: fn for name, _, fn in ops(
        replicate_docs(docs, n), replicate_emb(emb, n),
        li.crossJoin(spark.range(n).select(F.lit(1).alias("_one")))
          .drop("_one"))}

    all_ok = True
    for name, (budget, fn1) in small.items():
        timed(fn1)                          # warm (codegen/readers)
        t1 = timed(fn1)
        tn = timed(big[name])
        ratio = round(tn / t1, 2) if t1 > 0 else float("inf")
        # allow 4x headroom over the op's input-growth budget for fixed
        # overheads and shuffle constants; fail loudly on blow-up
        ok = ratio <= budget * 4
        all_ok &= ok
        print(json.dumps({"op": name, "t1": t1, f"t{n}": tn,
                          "ratio": ratio, "input_growth": budget,
                          "n": n, "ok": ok}), flush=True)
        spark.catalog.clearCache()
    print(json.dumps({"op": "SUMMARY", "ok": all_ok, "n": n}))
    sys.exit(0 if all_ok else 1)


if (__name__ == "__main__" and "--growth" not in sys.argv
        and "--growth-dedup" not in sys.argv
        and "--growth-ann" not in sys.argv):
    main()


# --------------------------------------------------------- growth exponents

#: the bench's heaviest family — the queries whose scale behavior decides
#: whether the engine survives 100x (VERDICT r6 "next round" item 1)
HEAVY = [
    "q_pagerank", "q_training_pipeline", "q_dedup_minhash",
    "q_dedup_incremental", "q_ivfpq", "q_ann_recall",
    "q_quality_classifier", "q_bpe_vocab", "q_cluster_curation",
    "q_line_dedup", "q_boilerplate", "q_dup_clusters_distributed",
    "q_hard_negatives_blocked",
]


def growth(dirs: list[str], out_path: str) -> None:
    """Run the heavy registered queries END TO END at each sf dir (1x /
    10x / 100x of sf0.01 by default), fit growth exponents, and write a
    JSON artifact.  exp = log(t_hi/t_lo) / log(scale) — a linear
    operator sits near/below 1 (fixed overhead pulls it down), a
    quadratic one near 2.  Evidence artifact behind the "plans you'd
    want at 100x" claim: measured, not read off the plan."""
    import importlib.util
    import math

    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(HERE, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    qs = m.queries()
    spark = get_spark("scale-growth")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn, d):
        t0 = time.perf_counter()
        fn(spark, d).count()
        return round(time.perf_counter() - t0, 3)

    results = {}
    all_ok = True
    for q in HEAVY:
        fn = qs[q]
        timed(fn, dirs[0])                      # warm codegen/readers once
        ts = []
        for d in dirs:
            ts.append(min(timed(fn, d), timed(fn, d)))   # min-of-2
            spark.catalog.clearCache()
        scale_hi = 10.0 ** (len(dirs) - 1)
        exp_overall = (math.log(ts[-1] / ts[0]) / math.log(scale_hi)
                       if ts[0] > 0 else float("inf"))
        exp_tail = (math.log(ts[-1] / ts[-2]) / math.log(10.0)
                    if ts[-2] > 0 else float("inf"))
        # gate: sub-quadratic on the last decade (tail exponent is the
        # honest one — fixed overhead no longer masks the growth law)
        ok = exp_tail < 1.8
        all_ok &= ok
        rec = {"q": q, "t": ts, "exp_overall": round(exp_overall, 3),
               "exp_10x_100x": round(exp_tail, 3), "ok": ok}
        results[q] = rec
        print(json.dumps(rec), flush=True)
    artifact = {"dirs": dirs, "queries": results, "ok": all_ok,
                "gate": "exp_10x_100x < 1.8"}
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"op": "GROWTH_SUMMARY", "ok": all_ok,
                      "artifact": out_path}))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__" and "--growth" in sys.argv:
    args = [a for a in sys.argv[1:] if a != "--growth"]
    dirs = args or ["/root/testdata/sf0.01", "/root/testdata/sf0.1",
                    os.path.join(HERE, ".localdata", "sf1")]
    growth(dirs, os.path.join(HERE, "SCALE_r07.json"))


def growth_dedup(dirs: list, out_path: str) -> None:
    """Four-point growth law for the PAIR-HEAVY dedup family (r7 verdict
    #8: q_dedup_minhash's 0.95 tail exponent was the honest worst —
    prove it holds through another decade).  Runs the three
    document-table queries over ``dirs`` (each step 10× the last) and
    records, alongside wall clocks and per-decade exponents, the
    MEASURED candidate-pair volume per banding step — sum over
    (band, bucket) of C(size, 2) — so "pair volume stays ~linear under
    banding" is a number in the artifact, not a claim."""
    import importlib.util
    import math

    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(HERE, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    qs = m.queries()
    spark = get_spark("scale-growth-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    from orange3_spark.plans.queries_text import _MH_BANDS, _MH_K
    from orange3_spark.text.dedup import minhash_band_table

    def timed(fn, d):
        t0 = time.perf_counter()
        fn(spark, d).count()
        return round(time.perf_counter() - t0, 3)

    def cand_pairs(d):
        docs = load_tables(spark, d, ("documents",))["documents"]
        bands = minhash_band_table(docs, "text", "doc_id",
                                   n=3, num_hashes=_MH_K, bands=_MH_BANDS,
                                   seed=0, hash_family="md5")
        row = (bands.groupBy("band", "bucket")
               .agg(F.count(F.lit(1)).alias("sz"))
               .agg(F.sum(F.expr("sz * (sz - 1) / 2")).alias("p"))
               .first())
        return int(row["p"] or 0)

    queries = ["q_dedup_minhash", "q_dup_clusters_distributed",
               "q_line_dedup"]
    sel = os.environ.get("SPARK_GRAFT_GROWTH_QUERIES")
    if sel:
        # per-query invocation so each run fits a CI/timeout budget; the
        # artifact merges across runs (read-modify-write below)
        queries = [q for q in sel.split(",") if q in queries]
    results = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                results = json.load(fh).get("queries", {})
        except Exception:
            results = {}
    all_ok = True
    for q in queries:
        fn = qs[q]
        timed(fn, dirs[0])                       # warm codegen/readers
        ts = []
        for d in dirs:
            ts.append(min(timed(fn, d), timed(fn, d)))
            spark.catalog.clearCache()
        exps = [round(math.log(ts[i + 1] / ts[i]) / math.log(10.0), 3)
                for i in range(len(ts) - 1)]
        ok = exps[-1] < 1.4          # the r7 verdict's weak-bar
        all_ok &= ok
        rec = {"q": q, "t": ts, "exp_per_decade": exps, "ok": ok}
        if q == "q_dedup_minhash":
            rec["candidate_pairs"] = [cand_pairs(d) for d in dirs]
            cp = rec["candidate_pairs"]
            rec["cand_exp_per_decade"] = [
                round(math.log(cp[i + 1] / cp[i]) / math.log(10.0), 3)
                if cp[i] else None for i in range(len(cp) - 1)]
        results[q] = rec
        print(json.dumps(rec), flush=True)
    all_ok = all(r.get("ok") for r in results.values())
    artifact = {"dirs": dirs, "queries": results, "ok": all_ok,
                "gate": "last-decade exponent < 1.4"}
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"op": "GROWTH_DEDUP_SUMMARY", "ok": all_ok,
                      "artifact": out_path}))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__" and "--growth-dedup" in sys.argv:
    _args = [a for a in sys.argv[1:] if a != "--growth-dedup"]
    _dirs = _args or ["/root/testdata/sf0.01", "/root/testdata/sf0.1",
                      os.path.join(HERE, ".localdata", "sf1"),
                      os.path.join(HERE, ".localdata", "sf10")]
    growth_dedup(_dirs, os.path.join(HERE, "SCALE_DEDUP_r10.json"))


def growth_ann(dirs: list, out_path: str) -> None:
    """Four-point growth law for the ANN family (r8 verdict #7: the
    blocked scorer's per-cell BLAS rewrite was only measured to sf1).

    Measures the PRODUCTION entry points with the cell policy real IVF
    uses — ``n_cells = max(8, floor(sqrt(n)))``, so cells (the shuffle
    key and the per-task matmul) stay bounded as the corpus grows — not
    the oracle-pinned 8-cell parameters of the graded queries:

    - ``ivf_serve``:   index build + 20 fixed queries through
      :func:`similarity.knn.ivf_knn` (the serving path; build is the
      linear term, each query touches ~nprobe/√n of the corpus)
    - ``ivfpq_serve``: coarse+PQ build + 1 query through
      :func:`similarity.pq.ivfpq_topk` (the compressed serving path)
    - ``hard_neg_mine``: ALL n vectors as queries through
      :func:`similarity.knn.hard_negatives_blocked` (the mining path —
      candidate volume is n·nprobe·n/cells ≈ nprobe·n^1.5 under the √n
      policy, so its time exponent should sit between 1 and 1.5 and the
      artifact records the measured candidate volume per decade)

    Embedding row counts differ per dir (sf0.01 is 500 rows, sf0.1 is
    2000), so exponents are log(t ratio)/log(n ratio) on MEASURED row
    counts, not an assumed 10×/step."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from orange3_spark.similarity.knn import (hard_negatives_blocked,
                                              ivf_fit, ivf_knn)
    from orange3_spark.similarity.pq import ivfpq_topk

    spark = get_spark("scale-growth-ann")
    spark.sparkContext.setLogLevel("ERROR")

    def emb(d):
        return load_tables(spark, d, ("embeddings",))["embeddings"]

    def cells_for(n):
        return max(8, int(math.sqrt(n)))

    def op_ivf_serve(d, n):
        e = emb(d)
        out = ivf_knn(e, e.where(F.col("vec_id") < 20), k=10,
                      n_cells=cells_for(n), nprobe=2, n_iter=2)
        c = out.count()
        out.lloyd_cache.unpersist()
        return c

    def op_ivfpq_serve(d, n):
        e = emb(d)
        qv = e.where(F.col("vec_id") == 0).select("embedding").first()[0]
        return ivfpq_topk(e, qv, id_col="vec_id", array_col="embedding",
                          n_cells=cells_for(n), nprobe=4, m=4, k=16,
                          n_iter=2, topn=10).count()

    def op_hard_neg_mine(d, n):
        out = hard_negatives_blocked(emb(d), k=3, n_cells=cells_for(n),
                                     nprobe=2, n_iter=2)
        c = out.count()
        out.ivf_cache.unpersist()
        return c

    def cand_volume(d, n):
        """(uncapped, capped) Σ_cell probes(cell)·members(cell) — the
        mining path's scored candidate count, measured (untimed) from a
        fresh index; the capped figure applies the r10 auto-valve rule
        (cap = _MINE_SKEW_FACTOR × lower-median cell size, only when
        the max cell exceeds it) to the member side."""
        from orange3_spark.similarity.knn import (_MINE_SKEW_FACTOR,
                                                  probe_cells)

        assigned, cents = ivf_fit(emb(d), n_cells=cells_for(n), n_iter=2)
        probes = probe_cells(assigned.select("_q"), cents, 2, vec_col="_q")
        pc = probes.groupBy("cluster").agg(F.count(F.lit(1)).alias("p"))
        mc = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("m"))
        rows = pc.join(mc, "cluster").collect()
        assigned.unpersist()
        sizes = sorted(int(r["m"]) for r in rows)
        med = sizes[(len(sizes) - 1) // 2] if sizes else 0
        # EXACT production cap expression (knn.hard_negatives_blocked's
        # auto branch: max(int(f*med), k+1) with the measurement's k=3)
        # so the artifact measures the valve the code actually runs —
        # a float cap here differed by a sub-integer per cell
        cap = (max(int(_MINE_SKEW_FACTOR * med), 3 + 1)
               if med and sizes[-1] > _MINE_SKEW_FACTOR * med else None)
        v = sum(int(r["p"]) * int(r["m"]) for r in rows)
        vc = sum(int(r["p"]) * min(int(r["m"]), cap or int(r["m"]))
                 for r in rows)
        return v, vc, cap

    def mining_recall_delta(d, n):
        """Capped (auto valve) vs uncapped mining at the LARGEST scale:
        the fraction of the uncapped top-k pairs the capped run keeps —
        the quantified recall price of the r10 candidate valve."""
        base = hard_negatives_blocked(emb(d), k=3, n_cells=cells_for(n),
                                      nprobe=2, n_iter=2,
                                      max_cell_rows=None)
        pairs_u = base.select("vec_id", "neg_id")
        capped = hard_negatives_blocked(emb(d), k=3, n_cells=cells_for(n),
                                        nprobe=2, n_iter=2)
        pairs_c = capped.select("vec_id", "neg_id")
        n_u = pairs_u.count()
        kept = pairs_u.join(pairs_c, ["vec_id", "neg_id"], "left_semi") \
                      .count()
        base.ivf_cache.unpersist()
        capped.ivf_cache.unpersist()
        return {"rows": n, "uncapped_pairs": n_u, "kept_pairs": kept,
                "recall_vs_uncapped": round(kept / max(n_u, 1), 4)}

    ops = {"ivf_serve": op_ivf_serve, "ivfpq_serve": op_ivfpq_serve,
           "hard_neg_mine": op_hard_neg_mine}

    def timed(fn, d, n):
        t0 = time.perf_counter()
        fn(d, n)
        return round(time.perf_counter() - t0, 3)

    ns = [emb(d).count() for d in dirs]
    results = {}
    all_ok = True
    for name, fn in ops.items():
        timed(fn, dirs[0], ns[0])            # warm codegen/readers
        ts = []
        for d, n in zip(dirs, ns):
            ts.append(min(timed(fn, d, n), timed(fn, d, n)))
            spark.catalog.clearCache()
        exps = [round(math.log(ts[i + 1] / ts[i])
                      / math.log(ns[i + 1] / ns[i]), 3)
                for i in range(len(ts) - 1)]
        ok = exps[-1] < 1.4
        all_ok &= ok
        rec = {"op": name, "rows": ns, "t": ts,
               "cells": [cells_for(n) for n in ns],
               "exp_per_step": exps, "ok": ok}
        if name == "hard_neg_mine":
            vols = [cand_volume(d, n) for d, n in zip(dirs, ns)]
            rec["candidate_volume"] = [v[0] for v in vols]
            rec["candidate_volume_capped"] = [v[1] for v in vols]
            rec["auto_cap"] = [v[2] for v in vols]
            for key, cv in (("cand_exp_per_step",
                             rec["candidate_volume"]),
                            ("cand_capped_exp_per_step",
                             rec["candidate_volume_capped"])):
                rec[key] = [
                    round(math.log(cv[i + 1] / cv[i])
                          / math.log(ns[i + 1] / ns[i]), 3)
                    if cv[i] else None for i in range(len(cv) - 1)]
            rec["recall_check"] = mining_recall_delta(dirs[-1], ns[-1])
        results[name] = rec
        print(json.dumps(rec), flush=True)

    # --- incremental ingest growth (r9 verdict task #7): append one
    # FIXED batch to a growing corpus.  The claim under test: append
    # cost scales with the BATCH, never a corpus refit.  ivf_append's
    # inherent factor is the √n centroid table each batch row probes
    # (BLAS k×dim per row), so its gate is exp ≤ 0.7; banding a new LSH
    # batch is corpus-independent (gate ≤ 0.3); the LSH probe join
    # streams the persisted index once per probe (recorded, ungated —
    # at 100 TB the index is storage-bucketed on (band, bucket) and
    # bucket pruning removes that pass; in-session cache can't prune).
    from orange3_spark.similarity.knn import ivf_append
    from orange3_spark.text.dedup import lsh_probe, minhash_band_table

    def docs_tbl(d):
        return load_tables(spark, d, ("documents",))["documents"]

    vec_batch = emb(dirs[0]).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10 ** 9))
    doc_batch = (docs_tbl(dirs[0]).where(F.col("doc_id") % 5 == 0)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(10 ** 9)))
    batch_n = vec_batch.count()

    def op_ivf_append(d, n):
        assigned, cents = ivf_fit(emb(d), n_cells=cells_for(n), n_iter=2)

        def one():
            t0 = time.perf_counter()
            (ivf_append(assigned, cents, vec_batch)
             .where(F.col("vec_id") >= 10 ** 9).count())
            return time.perf_counter() - t0

        one()                                    # warm
        t = min(one(), one())
        assigned.unpersist()
        return t

    def op_lsh_batch(d, n):
        ib = minhash_band_table(docs_tbl(d), num_hashes=8, bands=4,
                                seed=0).persist()
        ib.count()                               # index pre-built, untimed

        def band_only():
            t0 = time.perf_counter()
            minhash_band_table(doc_batch, num_hashes=8, bands=4,
                               seed=0).count()
            return time.perf_counter() - t0

        def probe():
            t0 = time.perf_counter()
            nb = minhash_band_table(doc_batch, num_hashes=8, bands=4,
                                    seed=0)
            lsh_probe(nb, ib).count()
            return time.perf_counter() - t0

        band_only()                              # warm
        tb = min(band_only(), band_only())
        tp = min(probe(), probe())
        ib.unpersist()
        return tb, tp

    app_t, band_t, probe_t = [], [], []
    for d, n in zip(dirs, ns):
        app_t.append(round(op_ivf_append(d, n), 3))
        tb, tp = op_lsh_batch(d, n)
        band_t.append(round(tb, 3))
        probe_t.append(round(tp, 3))
        spark.catalog.clearCache()

    def exps_of(ts):
        return [round(math.log(ts[i + 1] / ts[i])
                      / math.log(ns[i + 1] / ns[i]), 3)
                for i in range(len(ts) - 1)]

    inc = {"batch_rows": batch_n, "corpus_rows": ns,
           "ivf_append_t": app_t, "ivf_append_exp": exps_of(app_t),
           "lsh_band_batch_t": band_t,
           "lsh_band_batch_exp": exps_of(band_t),
           "lsh_probe_t": probe_t, "lsh_probe_exp": exps_of(probe_t),
           "gates": {"ivf_append": 0.7, "lsh_band_batch": 0.3,
                     "lsh_probe": None}}
    inc["ok"] = (inc["ivf_append_exp"][-1] <= 0.7
                 and inc["lsh_band_batch_exp"][-1] <= 0.3)
    all_ok &= inc["ok"]
    results["incremental_append"] = inc
    print(json.dumps({"op": "incremental_append", **inc}), flush=True)

    artifact = {"dirs": dirs, "ops": results, "ok": all_ok,
                "cell_policy": "n_cells = max(8, floor(sqrt(n)))",
                "gate": "last-step time exponent < 1.4"}
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({"op": "GROWTH_ANN_SUMMARY", "ok": all_ok,
                      "artifact": out_path}))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__" and "--growth-ann" in sys.argv:
    _args = [a for a in sys.argv[1:] if a != "--growth-ann"]
    _dirs = _args or ["/root/testdata/sf0.01", "/root/testdata/sf0.1",
                      os.path.join(HERE, ".localdata", "sf1"),
                      os.path.join(HERE, ".localdata", "sf10")]
    growth_ann(_dirs, os.path.join(HERE, "SCALE_ANN_r10.json"))
