"""Feature scoring — entropy/χ²/ANOVA scorers from ONE contingency pass.

Reference: ``Orange/preprocess/score.py`` (433 LoC): ``Chi2 :107``,
``ANOVA :126``, ``InfoGain :298``, ``GainRatio :309``, ``Gini :328``;
selection ``Orange/preprocess/fss.py:16-106``.

Every discrete scorer needs only the feature×class contingency — computed
distributed (grouped count), scored on the driver over the tiny count table.
ANOVA needs per-group (n, mean, var) — same one-aggregate shape.  This is the
aggregate-then-driver-recurse pattern of SURVEY §7.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contingency_counts(df: DataFrame, var: str,
                       class_col: str) -> dict[tuple, int]:
    """Feature×class contingency as a driver dict — ONE grouped count.
    Every discrete scorer below has a ``*_from`` variant consuming this,
    so a scoring table over k features costs k scans, not 4-5k (each
    df-based scorer runs its own action; at 100 TB a redundant
    contingency is a redundant full read)."""
    rows = (df.filter(F.col(var).isNotNull() & F.col(class_col).isNotNull())
              .groupBy(var, class_col).count().collect())
    return {(r[var], r[class_col]): r["count"] for r in rows}


_contingency = contingency_counts


def _entropy_from(counts: Sequence[float]) -> float:
    tot = sum(counts)
    if tot == 0:
        return 0.0
    return -sum((c / tot) * math.log2(c / tot) for c in counts if c)


def _marginals(cont: dict[tuple, int]):
    rows, cols = {}, {}
    for (a, b), n in cont.items():
        rows[a] = rows.get(a, 0) + n
        cols[b] = cols.get(b, 0) + n
    return rows, cols, sum(cont.values())


def info_gain_from(cont: dict[tuple, int]) -> float:
    rows, cols, n = _marginals(cont)
    if n == 0:
        return 0.0
    h_class = _entropy_from(list(cols.values()))
    h_cond = sum(
        (rn / n) * _entropy_from([cont.get((rv, cv), 0) for cv in cols])
        for rv, rn in rows.items())
    return h_class - h_cond


def info_gain(df: DataFrame, var: str, class_col: str) -> float:
    """H(class) − H(class|var) (``score.py:298``)."""
    return info_gain_from(_contingency(df, var, class_col))


def gain_ratio_from(cont: dict[tuple, int]) -> float:
    rows, _, n = _marginals(cont)
    h_var = _entropy_from(list(rows.values()))
    if h_var == 0:
        return 0.0
    return info_gain_from(cont) / h_var


def gain_ratio(df: DataFrame, var: str, class_col: str) -> float:
    """InfoGain / H(var) (``score.py:309``)."""
    return gain_ratio_from(_contingency(df, var, class_col))


def gini_from(cont: dict[tuple, int]) -> float:
    rows, cols, n = _marginals(cont)
    if n == 0:
        return 0.0

    def g(counts):
        tot = sum(counts)
        if tot == 0:
            return 0.0
        return 1 - sum((c / tot) ** 2 for c in counts)

    g_class = g(list(cols.values()))
    g_cond = sum((rn / n) * g([cont.get((rv, cv), 0) for cv in cols])
                 for rv, rn in rows.items())
    return g_class - g_cond


def gini(df: DataFrame, var: str, class_col: str) -> float:
    """Gini impurity decrease (``score.py:328``)."""
    return gini_from(_contingency(df, var, class_col))


def chi2_from(cont: dict[tuple, int]) -> tuple[float, int]:
    rows, cols, n = _marginals(cont)
    if n == 0:
        return 0.0, 0
    stat = 0.0
    for rv, rn in rows.items():
        for cv, cn in cols.items():
            exp = rn * cn / n
            obs = cont.get((rv, cv), 0)
            if exp > 0:
                stat += (obs - exp) ** 2 / exp
    dof = (len(rows) - 1) * (len(cols) - 1)
    return stat, dof


def chi2(df: DataFrame, var: str, class_col: str) -> tuple[float, int]:
    """χ² statistic + dof over the contingency (``score.py:107``)."""
    return chi2_from(_contingency(df, var, class_col))


def anova_f(df: DataFrame, cont_var: str, class_col: str) -> float:
    """One-way ANOVA F over a continuous feature vs discrete class
    (``score.py:126``) — per-group (n, mean, var) in one grouped agg."""
    rows = (df.filter(F.col(cont_var).isNotNull() & F.col(class_col).isNotNull())
              .groupBy(class_col)
              .agg(F.count(cont_var).alias("n"), F.avg(cont_var).alias("m"),
                   F.var_samp(cont_var).alias("v"))
              .collect())
    groups = [(r["n"], r["m"], r["v"] or 0.0) for r in rows if r["n"] > 0]
    k = len(groups)
    n = sum(g[0] for g in groups)
    if k < 2 or n <= k:
        return 0.0
    grand = sum(g[0] * g[1] for g in groups) / n
    ss_between = sum(g[0] * (g[1] - grand) ** 2 for g in groups)
    ss_within = sum((g[0] - 1) * g[2] for g in groups)
    if ss_within == 0:
        return float("inf")
    return (ss_between / (k - 1)) / (ss_within / (n - k))


def anova_f_multi(df: DataFrame, cont_vars: Sequence[str],
                  class_col: str) -> dict[str, float]:
    """ANOVA F for MANY continuous features against one class in a single
    grouped aggregation (per-class n/mean/var for every column at once,
    map-side combined) — k features cost one scan, not k."""
    aggs = []
    for i, c in enumerate(cont_vars):
        aggs += [F.count(c).alias(f"n_{i}"), F.avg(c).alias(f"m_{i}"),
                 F.var_samp(c).alias(f"v_{i}")]
    rows = (df.filter(F.col(class_col).isNotNull())
              .groupBy(class_col).agg(*aggs).collect())
    out = {}
    for i, c in enumerate(cont_vars):
        groups = [(r[f"n_{i}"], r[f"m_{i}"], r[f"v_{i}"] or 0.0)
                  for r in rows if r[f"n_{i}"] and r[f"n_{i}"] > 0]
        k = len(groups)
        n = sum(g[0] for g in groups)
        if k < 2 or n <= k:
            out[c] = 0.0
            continue
        grand = sum(g[0] * g[1] for g in groups) / n
        ss_between = sum(g[0] * (g[1] - grand) ** 2 for g in groups)
        ss_within = sum((g[0] - 1) * g[2] for g in groups)
        out[c] = (float("inf") if ss_within == 0
                  else (ss_between / (k - 1)) / (ss_within / (n - k)))
    return out


def univariate_linear_regression_multi(df: DataFrame,
                                       cont_vars: Sequence[str],
                                       target_col: str) -> dict[str, float]:
    """Univariate linear-regression F-statistic for MANY continuous
    features vs one continuous target in one aggregation (``score.py:142``
    wraps sklearn ``f_regression``; same single-scan rationale as
    :func:`anova_f_multi`): ``F = r² · (n − 2) / (1 − r²)`` with r the
    Pearson correlation.  Each corr/count pair conditions on its own
    feature's non-NULLs."""
    ok_t = F.col(target_col).isNotNull()
    aggs = []
    for i, c in enumerate(cont_vars):
        ok = F.col(c).isNotNull() & ok_t
        aggs += [F.corr(F.when(ok, F.col(c)),
                        F.when(ok, F.col(target_col))).alias(f"r_{i}"),
                 F.sum(ok.cast("long")).alias(f"n_{i}")]
    row = df.agg(*aggs).first()
    out = {}
    for i, c in enumerate(cont_vars):
        r, n = row[f"r_{i}"], row[f"n_{i}"]
        if r is None or n <= 2 or abs(r) >= 1.0:
            out[c] = float("inf") if r is not None and abs(r) >= 1.0 else 0.0
        else:
            out[c] = r * r / (1.0 - r * r) * (n - 2)
    return out


def symmetric_uncertainty(df: DataFrame, a: str, b: str) -> float:
    """SU(a,b) = 2·IG(a|b) / (H(a)+H(b)) over discrete columns."""
    cont = _contingency(df, a, b)
    ra, rb, n = _marginals(cont)
    ha = _entropy_from(list(ra.values()))
    hb = _entropy_from(list(rb.values()))
    # H(a|b)
    hab = 0.0
    for bv, nb in rb.items():
        col = [c for (av, bv2), c in cont.items() if bv2 == bv]
        hab += nb / n * _entropy_from(col)
    ig = ha - hab
    return 2.0 * ig / (ha + hb) if ha + hb else 0.0


def fcbf(df: DataFrame, features: Sequence[str], class_col: str, *,
         threshold: float = 0.0) -> list[tuple[str, float]]:
    """Fast Correlation-Based Filter (``score.py:259``): keep features whose
    class-SU beats the threshold, then drop every feature dominated by an
    already-kept one (SU(fi,fj) ≥ SU(fi,class)).  The SU computations are
    k + k² tiny contingency aggregations over discrete columns."""
    relevant = sorted(((f, symmetric_uncertainty(df, f, class_col))
                       for f in features), key=lambda t: -t[1])
    relevant = [(f, su) for f, su in relevant if su > threshold]
    kept: list[tuple[str, float]] = []
    for f, su in relevant:
        if all(symmetric_uncertainty(df, f, g) < su for g, _ in kept):
            kept.append((f, su))
    return kept


def relieff(df: DataFrame, features: Sequence[str], class_col: str, *,
            n_samples: int = 200, k: int = 5, seed: int = 42,
            quantize: "float | None" = None) -> dict[str, float]:
    """ReliefF feature scores on a BOUNDED sample (``score.py:338``).

    The algorithm is inherently pairwise (nearest hit/miss per sampled
    instance); the reference caps iterations the same way.  Sample
    deterministically, pull to the driver (n_samples × k features — tiny),
    score with vectorized numpy.  Documented bound per SURVEY §7 risk
    register — at 100 TB the sample is still n_samples rows.

    The sample key hashes features AND class: rows with identical features
    but different classes would otherwise tie with unspecified order, so
    the sampled (X, y) multiset would not be a pure function of the data.
    The pool is deduped to DISTINCT (features, class) tuples before the
    fixed-size cut: on a corpus with heavy exact duplication the
    md5-ordered top-n would otherwise collapse onto a handful of distinct
    rows (the smallest hashes replicated), starving classes below k
    neighbors — dedup makes the sample (and the score) invariant under
    row replication, which is also the right estimator semantics.

    ``quantize`` (e.g. 100 for 2-decimal data) switches to the
    order-independent exact path: values are fixed-pointed to int64,
    neighbor distances become exact integers (per-feature |Δq| scaled by
    the other features' spans — same ordering as the span-normalized
    manhattan distance, no float comparison), neighbor ties break toward
    the lower sample index, and the score is ONE exact integer
    accumulation divided once at the end — bit-identical across engines,
    so the whole fit is SQL-oracle-checkable (``q_feature_scores_relieff``).
    Requires every class to carry > k sampled rows (raises otherwise —
    the float path has no such constraint)."""
    import numpy as np

    cols = list(features)
    key = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols],
                            F.col(class_col).cast("string")))
    sampled = (df.na.drop(subset=[*cols, class_col])
                 .select(*cols, class_col).distinct()
                 .orderBy(key)
                 .limit(n_samples).collect())
    if len(sampled) < 2:
        return {c: 0.0 for c in cols}
    y = np.array([r[class_col] for r in sampled])
    n = len(y)

    if quantize is not None:
        import math

        Q = np.array([[math.floor(float(r[c]) * quantize + 0.5)
                       for c in cols] for r in sampled], dtype=np.int64)
        span = Q.max(0) - Q.min(0)
        span[span == 0] = 1
        p = len(cols)
        # exact integer distance with the same ORDER as Σ|Δq_f|/span_f:
        # multiply through by Πspan  →  Σ|Δq_f|·Π_{g≠f} span_g
        other = np.array([int(np.prod(np.delete(span, f).astype(object)))
                          for f in range(p)], dtype=np.int64)
        if int(span.max()) * int(other.max()) * p >= 2 ** 62:
            raise ValueError(
                "relieff(quantize=...): span product overflows exact "
                "int64 distances — lower quantize or use the float path")
        diff = np.abs(Q[:, None, :] - Q[None, :, :])        # (n, n, p)
        D = (diff * other[None, None, :]).sum(-1)           # exact int64
        W = np.zeros(p, dtype=np.int64)
        counted = 0
        for i in range(n):
            same = (y == y[i])
            same[i] = False
            for mask, sign in ((same, -1), (~same & (np.arange(n) != i), 1)):
                idx = np.where(mask)[0]
                if idx.size < k:
                    raise ValueError(
                        "relieff(quantize=...): a class has <= k sampled "
                        "rows; raise n_samples or use the float path")
                order = idx[np.argsort(D[i, idx], kind="stable")[:k]]
                W += sign * diff[i, order, :].sum(0)
            counted += 1
        # one division per feature at the very end: exact ints in, one
        # correctly-rounded double out
        return {c: float(int(W[f]) / (counted * k * int(span[f])))
                for f, c in enumerate(cols)}

    X = np.array([[r[c] for c in cols] for r in sampled], dtype=np.float64)
    rng_span = X.max(0) - X.min(0)
    rng_span[rng_span == 0] = 1.0
    Xn = (X - X.min(0)) / rng_span
    d = np.abs(Xn[:, None, :] - Xn[None, :, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    w = np.zeros(len(cols))
    for i in range(n):
        same = (y == y[i])
        same[i] = False
        for mask, sign in ((same, -1.0), (~same & (np.arange(n) != i), 1.0)):
            idx = np.where(mask)[0]
            if idx.size == 0:
                continue
            nearest = idx[np.argsort(d[i, idx])[:k]]
            w += sign * np.abs(Xn[nearest] - Xn[i]).mean(0)
    return {c: float(v / n) for c, v in zip(cols, w)}


def rrelieff(df: DataFrame, features: Sequence[str], target_col: str, *,
             n_samples: int = 200, k: int = 5) -> dict[str, float]:
    """RReliefF — the regression Relief (``score.py:382``, Robnik-Šikonja &
    Kononenko 1997): same bounded-deterministic-sample shape as
    :func:`relieff`, but neighbor contributions are weighted by how much
    the *target* differs:

        W[f] = P(dA|dC)-ish ratio  =  N_dCdA[f]/N_dC
               − (N_dA[f] − N_dCdA[f]) / (m·k − N_dC)
    """
    import numpy as np

    cols = list(features)
    sampled = (df.na.drop(subset=[*cols, target_col])
                 .select(*cols, target_col).distinct()
                 .orderBy(F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                                   for c in cols],
                                            F.col(target_col)
                                            .cast("string"))))
                 .limit(n_samples).collect())
    if len(sampled) < 2:
        return {c: 0.0 for c in cols}
    X = np.array([[r[c] for c in cols] for r in sampled], dtype=np.float64)
    y = np.array([r[target_col] for r in sampled], dtype=np.float64)
    rng_span = X.max(0) - X.min(0)
    rng_span[rng_span == 0] = 1.0
    Xn = (X - X.min(0)) / rng_span
    y_span = y.max() - y.min() or 1.0
    yn = (y - y.min()) / y_span
    n = len(Xn)
    d = np.abs(Xn[:, None, :] - Xn[None, :, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    n_dc = 0.0
    n_da = np.zeros(len(cols))
    n_dcda = np.zeros(len(cols))
    total = 0
    for i in range(n):
        nearest = np.argsort(d[i])[:k]
        dc = np.abs(yn[nearest] - yn[i])          # target diff per neighbor
        da = np.abs(Xn[nearest] - Xn[i])          # k × f attr diffs
        n_dc += dc.sum()
        n_da += da.sum(0)
        n_dcda += (dc[:, None] * da).sum(0)
        total += len(nearest)
    if n_dc == 0 or total == n_dc:
        return {c: 0.0 for c in cols}
    w = n_dcda / n_dc - (n_da - n_dcda) / (total - n_dc)
    return {c: float(v) for c, v in zip(cols, w)}


def select_best_features(df: DataFrame, features: Sequence[str],
                         class_col: str, *, scorer=info_gain,
                         k: int = 5) -> list[str]:
    """SelectBestFeatures (``fss.py:16-104``): score every feature, keep
    top-k (scores are per-feature scalars; the distributed work is the
    per-feature contingency agg)."""
    scored = [(f, scorer(df, f, class_col)) for f in features]
    scored.sort(key=lambda t: (-(t[1] if t[1] == t[1] else -1), t[0]))
    return [f for f, _ in scored[:k]]


def select_random_features(features: Sequence[str], k,
                           *, seed: int = 0) -> list[str]:
    """SelectRandomFeatures (``Orange/preprocess/fss.py:106-132``): keep a
    random ``k``-subset of the feature columns; float ``k`` is a
    proportion.

    The reference draws with ``random.sample``; here the draw is a
    DETERMINISTIC seeded hash ranking of the column names (sha256 of
    ``"{seed}:{name}"``) — a pure function of (names, seed) with no data
    scan and no RNG state, so the selection replays identically on any
    engine, any partitioning, any cluster size.  Selected columns keep
    their original order, matching how a Domain subset preserves
    attribute order."""
    import hashlib

    feats = list(features)
    if isinstance(k, float):
        k = int(len(feats) * k)
    k = max(0, min(k, len(feats)))
    ranked = sorted(feats, key=lambda f: (
        hashlib.sha256(f"{seed}:{f}".encode()).hexdigest(), f))
    keep = set(ranked[:k])
    return [f for f in feats if f in keep]
