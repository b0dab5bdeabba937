"""Analytics batch 3: distances, box-plot stats, sieve residuals, outliers,
time binning — SURVEY §2.11 widget-level computations."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.plans import oracle_replay as OR3
from orange3_spark.plans.registry import fixtures, query
from orange3_spark.stats import distance as D
from orange3_spark.stats import outliers as O


def _nation_features(spark, sf_dir):
    nation, customer, orders = fixtures(spark, sf_dir, "nation", "customer", "orders")
    return (orders.join(customer, orders.o_custkey == customer.c_custkey)
                  .join(nation, customer.c_nationkey == nation.n_nationkey)
                  .groupBy("n_nationkey")
                  .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                       F.avg("o_totalprice").alias("avg_price")))


_NATION_SQL = """
SELECT n.n_nationkey,
       CAST(count(*) AS DOUBLE) AS n_orders,
       avg(o.o_totalprice) AS avg_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_nationkey"""


@query("q_distance_rows", f"""
WITH f AS ({_NATION_SQL})
SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
       sqrt(power(a.n_orders - b.n_orders, 2)
            + power(a.avg_price - b.avg_price, 2)) AS dist
FROM f a JOIN f b ON a.n_nationkey < b.n_nationkey
""")
def q_distance_rows(spark, sf_dir):
    """Pairwise row distances (Orange Distance, distance.py:198) — long-form
    self-join; per-pair arithmetic is fixed-k column expressions."""
    feats = _nation_features(spark, sf_dir)
    return D.row_distances(feats, "n_nationkey", ["n_orders", "avg_price"],
                           metric="euclidean")


@query("q_distance_columns", """
SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
       sqrt(sum(power(l_quantity - l_discount, 2))) AS dist FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_tax', sqrt(sum(power(l_quantity - l_tax, 2))) FROM lineitem
UNION ALL
SELECT 'l_discount', 'l_tax', sqrt(sum(power(l_discount - l_tax, 2))) FROM lineitem
""")
def q_distance_columns(spark, sf_dir):
    """Distances BETWEEN columns in one aggregation pass — the reference
    transposes the matrix first; at scale the transpose never exists."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return D.column_distances(li, ["l_quantity", "l_discount", "l_tax"],
                              metric="euclidean")


@query("q_boxplot", """
SELECT l_returnflag,
       min(l_extendedprice) AS lo,
       quantile_cont(l_extendedprice, 0.25) AS q1,
       quantile_cont(l_extendedprice, 0.5) AS med,
       quantile_cont(l_extendedprice, 0.75) AS q3,
       max(l_extendedprice) AS hi,
       avg(l_extendedprice) AS mean,
       stddev_samp(l_extendedprice) AS sd
FROM lineitem GROUP BY l_returnflag
""")
def q_boxplot(spark, sf_dir):
    """Box-plot statistics per group (owboxplot.py): exact interpolated
    quartiles + mean±sd in one grouped aggregation."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    p = lambda q: F.percentile("l_extendedprice", F.lit(q))
    return (li.groupBy("l_returnflag")
              .agg(F.min("l_extendedprice").alias("lo"),
                   p(0.25).alias("q1"), p(0.5).alias("med"),
                   p(0.75).alias("q3"),
                   F.max("l_extendedprice").alias("hi"),
                   F.avg("l_extendedprice").alias("mean"),
                   F.stddev_samp("l_extendedprice").alias("sd")))


@query("q_sieve_chi2", """
WITH c AS (SELECT l_returnflag AS r, l_linestatus AS s, count(*) AS n
           FROM lineitem GROUP BY 1, 2),
tot AS (SELECT sum(n) AS total FROM c),
m AS (SELECT r, s, n,
             sum(n) OVER (PARTITION BY r) AS row_tot,
             sum(n) OVER (PARTITION BY s) AS col_tot
      FROM c)
SELECT r AS l_returnflag, s AS l_linestatus, n AS observed,
       row_tot * col_tot / tot.total AS expected,
       power(n - row_tot * col_tot / tot.total, 2)
         / (row_tot * col_tot / tot.total) AS chi2_cell
FROM m, tot
""")
def q_sieve_chi2(spark, sf_dir):
    """Sieve diagram statistics (owsieve.py): observed vs expected counts
    and per-cell χ² contributions — contingency + window marginals."""
    from pyspark.sql.window import Window

    (li,) = fixtures(spark, sf_dir, "lineitem")
    c = (li.groupBy(F.col("l_returnflag"), F.col("l_linestatus"))
           .agg(F.count(F.lit(1)).alias("observed")))
    wr = Window.partitionBy("l_returnflag")
    wc = Window.partitionBy("l_linestatus")
    wt = Window.partitionBy()
    exp = (F.sum("observed").over(wr) * F.sum("observed").over(wc)
           / F.sum("observed").over(wt))
    return c.select(
        "l_returnflag", "l_linestatus", "observed",
        exp.alias("expected"),
        (F.pow(F.col("observed") - exp, 2) / exp).alias("chi2_cell"))


@query("q_outlier_iqr", """
WITH q AS (SELECT quantile_cont(value, 0.25) AS q1,
                  quantile_cont(value, 0.75) AS q3 FROM events)
SELECT event_id, value
FROM events, q
WHERE value < q.q1 - 1.5 * (q.q3 - q.q1)
   OR value > q.q3 + 1.5 * (q.q3 - q.q1)
""")
def q_outlier_iqr(spark, sf_dir):
    """Tukey-fence outliers (owoutliers.py's rule-based cousin): one exact
    quantile pass + a row-local predicate."""
    (events,) = fixtures(spark, sf_dir, "events")
    flagged = O.iqr_outliers(events, "value")
    return flagged.filter("is_outlier").select("event_id", "value")


@query("q_maha_outliers", """
WITH s AS (SELECT avg(l_quantity) AS m1, stddev_pop(l_quantity) AS s1,
                  avg(l_extendedprice) AS m2, stddev_pop(l_extendedprice) AS s2,
                  avg(l_discount) AS m3, stddev_pop(l_discount) AS s3
           FROM lineitem),
z AS (SELECT l_orderkey, l_linenumber,
             (l_quantity - m1) / s1 AS x,
             (l_extendedprice - m2) / s2 AS y,
             (l_discount - m3) / s3 AS w
      FROM lineitem, s),
m AS (SELECT avg(x) AS mx, avg(y) AS my, avg(w) AS mw,
             avg(x*x) AS exx, avg(x*y) AS exy, avg(x*w) AS exw,
             avg(y*y) AS eyy, avg(y*w) AS eyw, avg(w*w) AS eww FROM z),
c AS (SELECT exx-mx*mx AS a, exy-mx*my AS b, exw-mx*mw AS d,
             eyy-my*my AS e, eyw-my*mw AS f, eww-mw*mw AS g,
             mx, my, mw FROM m),
inv AS (SELECT mx, my, mw,
        (e*g - f*f) AS i11, (d*f - b*g) AS i12, (b*f - d*e) AS i13,
        (a*g - d*d) AS i22, (d*b - a*f) AS i23, (a*e - b*b) AS i33,
        a*(e*g - f*f) - b*(b*g - f*d) + d*(b*f - e*d) AS det
        FROM c)
SELECT l_orderkey, l_linenumber,
       round(sqrt(((x-mx)*(x-mx)*i11 + 2*(x-mx)*(y-my)*i12
                   + 2*(x-mx)*(w-mw)*i13 + (y-my)*(y-my)*i22
                   + 2*(y-my)*(w-mw)*i23 + (w-mw)*(w-mw)*i33) / det), 6) AS maha
FROM z, inv
ORDER BY maha DESC, l_orderkey, l_linenumber LIMIT 20
""")
def q_maha_outliers(spark, sf_dir):
    """Top-20 Mahalanobis-distance outliers over lineitem numerics
    (elliptic-envelope statistic; covariance in one pass, row-local
    quadratic form).  Features are standardized first — Mahalanobis is
    affine-invariant so the result is unchanged, but the covariance becomes
    the well-conditioned correlation matrix, letting the oracle invert it
    with an exact 3×3 adjugate and match the driver-side pinv to 6
    decimals."""
    from orange3_spark.stats.distance import _standardize

    (li,) = fixtures(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    z = _standardize(li.select("l_orderkey", "l_linenumber", *cols), cols)
    scored = O.mahalanobis_score(z, cols)
    return (scored.select("l_orderkey", "l_linenumber",
                          F.round("maha", 6).alias("maha"))
                  .orderBy(F.col("maha").desc(), "l_orderkey", "l_linenumber")
                  .limit(20))


@query("q3_shipping_priority", """
SELECT l.l_orderkey,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000.0
                           + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two joins → grouped revenue →
    top-10.  Both date filters push into the parquet scans; the customer
    side broadcasts."""
    customer, orders, li = fixtures(spark, sf_dir,
                                    "customer", "orders", "lineitem")
    cut = "1995-03-15"
    return (customer.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, customer.c_custkey == orders.o_custkey)
            .filter(F.col("o_orderdate") < cut)
            .join(li, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate") > cut)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            # exact fixed-point revenue: the 4-decimal line totals sum as
            # integers, so the top-10 boundary can never flip on a
            # partition-order float bit (it did at sf0.1 — rank 10 vs 11
            # differed between engines before this)
            .agg((F.sum(F.floor(F.col("l_extendedprice")
                                * (1 - F.col("l_discount")) * 10000.0
                                + 0.5)).cast("double") / 10000.0)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
            .limit(10))


@query("q6_forecast_revenue", """
SELECT sum(l_extendedprice * l_discount) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate reaches
    the parquet reader, the aggregation is one map-side-combined pass."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1995-01-01")
                      & (F.col("l_shipdate") < "1996-01-01")
                      & F.col("l_discount").between(0.02, 0.04)
                      & (F.col("l_quantity") < 24))
              .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount"))
                   .alias("revenue")))


@query("q10_returned_items", """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000.0
                           + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       n.n_name
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: fact-to-dims star join + top-k by grouped revenue."""
    customer, orders, li, nation = fixtures(
        spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (orders.filter((F.col("o_orderdate") >= "1995-01-01")
                          & (F.col("o_orderdate") < "1995-04-01"))
            .join(li.filter(F.col("l_returnflag") == "R"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(customer, F.col("c_custkey") == F.col("o_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            # fixed-point revenue — same top-k boundary-stability fix as q3
            .agg((F.sum(F.floor(F.col("l_extendedprice")
                                * (1 - F.col("l_discount")) * 10000.0
                                + 0.5)).cast("double") / 10000.0)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20))


@query("q_time_bins", """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       count(*) AS n, sum(o_totalprice) AS total
FROM orders GROUP BY 1
""")
def q_time_bins(spark, sf_dir):
    """Time binning (time_binnings, discretize.py:523-566): calendar-unit
    bins via date_trunc — pushdown-friendly, no UDF."""
    (orders,) = fixtures(spark, sf_dir, "orders")
    return (orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("o_totalprice").alias("total")))


def _nation_features4(spark, sf_dir):
    nation, customer, orders = fixtures(spark, sf_dir, "nation", "customer", "orders")
    return (orders.join(customer, orders.o_custkey == customer.c_custkey)
                  .join(nation, customer.c_nationkey == nation.n_nationkey)
                  .groupBy("n_nationkey")
                  .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                       F.avg("o_totalprice").alias("avg_price"),
                       F.sum("o_totalprice").alias("sum_price"),
                       F.max("o_totalprice").alias("max_price")))


_NATION4_SQL = """
SELECT n.n_nationkey,
       CAST(count(*) AS DOUBLE) AS n_orders,
       avg(o.o_totalprice) AS avg_price,
       sum(o.o_totalprice) AS sum_price,
       max(o.o_totalprice) AS max_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_nationkey"""

_N4_COLS = ["n_orders", "avg_price", "sum_price", "max_price"]

_SUPP_SQL = """
SELECT p_partkey,
       CAST(p_partkey AS DOUBLE) AS f_key,
       p_retailprice AS f_bal,
       CAST(p_size AS DOUBLE) AS f_nat,
       CAST(length(p_type) AS DOUBLE) AS f_len
FROM part WHERE p_partkey <= 15"""

_SUPP_COLS = ["f_key", "f_bal", "f_nat", "f_len"]

def _supp_features(spark, sf_dir):
    (part,) = fixtures(spark, sf_dir, "part")
    return (part.filter(F.col("p_partkey") <= 15)
            .select("p_partkey",
                    F.col("p_partkey").cast("double").alias("f_key"),
                    F.col("p_retailprice").alias("f_bal"),
                    F.col("p_size").cast("double").alias("f_nat"),
                    F.length("p_type").cast("double").alias("f_len")))


@query("q_distance_pearson_rows", f"""
WITH f AS ({_SUPP_SQL}),
p AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        a.f_key + a.f_bal + a.f_nat + a.f_len AS sa,
        b.f_key + b.f_bal + b.f_nat + b.f_len AS sb,
        a.f_key*b.f_key + a.f_bal*b.f_bal + a.f_nat*b.f_nat
          + a.f_len*b.f_len AS sab,
        a.f_key*a.f_key + a.f_bal*a.f_bal + a.f_nat*a.f_nat
          + a.f_len*a.f_len AS saa,
        b.f_key*b.f_key + b.f_bal*b.f_bal + b.f_nat*b.f_nat
          + b.f_len*b.f_len AS sbb
      FROM f a JOIN f b ON a.p_partkey < b.p_partkey),
d AS (SELECT id_a, id_b, 4.0*sab - sa*sb AS num,
        sqrt(4.0*saa - sa*sa) * sqrt(4.0*sbb - sb*sb) AS den FROM p),
e AS (SELECT id_a, id_b, den, 0.5 - (num/den)/2.0 AS raw FROM d)
SELECT id_a, id_b,
  CASE WHEN den = 0 THEN NULL
       WHEN raw <= 0 THEN 0.0 WHEN raw >= 1 THEN 1.0 ELSE raw END AS dist
FROM e
""")
def q_distance_pearson_rows(spark, sf_dir):
    """PearsonR row distance (0.5 − ρ/2, reference distance.py:592-603,752):
    closed-form ρ over the fixed-k feature vector — pure codegen expressions
    on the pair frame, no per-row Python.

    The oracle mirrors the closed form OP FOR OP (same association order,
    same one divide) instead of DuckDB's one-pass ``corr``: over identical
    double inputs every IEEE op is then bit-identical on both engines, and
    the shared [0,1] clamp turns any last-bit ρ-past-±1 excursion into the
    literal 0.0/1.0 — no signed zero, no rounding boundary (r8 verdict:
    the sibling q_distance_spearman_rows hash-fail)."""
    feats = _supp_features(spark, sf_dir)
    return D.row_distances(feats, "p_partkey", _SUPP_COLS, metric="pearson") \
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "dist")


_SUPP_RANK2 = """
r AS (SELECT p_partkey AS id,
  2*(CAST(f_bal<f_key AS BIGINT) + CAST(f_nat<f_key AS BIGINT)
     + CAST(f_len<f_key AS BIGINT))
    + CAST(f_bal=f_key AS BIGINT) + CAST(f_nat=f_key AS BIGINT)
    + CAST(f_len=f_key AS BIGINT) + 2 AS a1,
  2*(CAST(f_key<f_bal AS BIGINT) + CAST(f_nat<f_bal AS BIGINT)
     + CAST(f_len<f_bal AS BIGINT))
    + CAST(f_key=f_bal AS BIGINT) + CAST(f_nat=f_bal AS BIGINT)
    + CAST(f_len=f_bal AS BIGINT) + 2 AS a2,
  2*(CAST(f_key<f_nat AS BIGINT) + CAST(f_bal<f_nat AS BIGINT)
     + CAST(f_len<f_nat AS BIGINT))
    + CAST(f_key=f_nat AS BIGINT) + CAST(f_bal=f_nat AS BIGINT)
    + CAST(f_len=f_nat AS BIGINT) + 2 AS a3,
  2*(CAST(f_key<f_len AS BIGINT) + CAST(f_bal<f_len AS BIGINT)
     + CAST(f_nat<f_len AS BIGINT))
    + CAST(f_key=f_len AS BIGINT) + CAST(f_bal=f_len AS BIGINT)
    + CAST(f_nat=f_len AS BIGINT) + 2 AS a4
FROM f)"""


@query("q_distance_spearman_rows", f"""
WITH f AS ({_SUPP_SQL}),
{_SUPP_RANK2},
p AS (SELECT a.id AS id_a, b.id AS id_b,
        a.a1 + a.a2 + a.a3 + a.a4 AS sa,
        b.a1 + b.a2 + b.a3 + b.a4 AS sb,
        a.a1*b.a1 + a.a2*b.a2 + a.a3*b.a3 + a.a4*b.a4 AS sab,
        a.a1*a.a1 + a.a2*a.a2 + a.a3*a.a3 + a.a4*a.a4 AS saa,
        b.a1*b.a1 + b.a2*b.a2 + b.a3*b.a3 + b.a4*b.a4 AS sbb
      FROM r a JOIN r b ON a.id < b.id),
d AS (SELECT id_a, id_b, 4*sab - sa*sb AS num,
        (4*saa - sa*sa) * (4*sbb - sb*sb) AS dd FROM p),
e AS (SELECT id_a, id_b, num, dd,
        0.5 - num/(2.0*sqrt(dd)) AS raw FROM d)
SELECT id_a, id_b,
  CASE WHEN dd = 0 THEN NULL
       WHEN num*num = dd THEN (CASE WHEN num > 0 THEN 0.0 ELSE 1.0 END)
       WHEN raw <= 0 THEN 0.0 WHEN raw >= 1 THEN 1.0 ELSE raw END AS dist
FROM e
""")
def q_distance_spearman_rows(spark, sf_dir):
    """SpearmanR row distance in EXACT integer arithmetic: twice the
    average-tie rank of each row's k values is an exact int64 from O(k²)
    row-local comparisons (distance.py:609-620), so ρ's numerator and
    denominator² are exact ints, ρ = ±1 is the integer test num² == da·db
    (distance literally 0.0/1.0 on both engines), and the lone sqrt+divide
    elsewhere is bit-identical IEEE over identical integers.  Kills the r8
    driver hash-fail (signed zero at a round(…,6) boundary) structurally —
    no rounding step remains."""
    feats = _supp_features(spark, sf_dir)
    return D.row_distances(feats, "p_partkey", _SUPP_COLS, metric="spearman") \
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "dist")


@query("q_distance_bhattacharyya", f"""
WITH f AS ({_NATION4_SQL})
SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
       greatest(0.0, -ln(
         (sqrt(a.n_orders * b.n_orders) + sqrt(a.avg_price * b.avg_price)
          + sqrt(a.sum_price * b.sum_price) + sqrt(a.max_price * b.max_price))
         / sqrt((a.n_orders + a.avg_price + a.sum_price + a.max_price)
                * (b.n_orders + b.avg_price + b.sum_price + b.max_price))))
       AS dist
FROM f a JOIN f b ON a.n_nationkey < b.n_nationkey
""")
def q_distance_bhattacharyya(spark, sf_dir):
    """Bhattacharyya distance between rows-as-distributions
    (−ln Σ√(p·q), reference distance.py:776-806): row-normalization folds
    into a single √(Σa·Σb) denominator, so one pass, no pre-normalize scan."""
    feats = _nation_features4(spark, sf_dir)
    return D.row_distances(feats, "n_nationkey", _N4_COLS,
                           metric="bhattacharyya")


@query("q_distance_spearman_cols", """
WITH r AS (SELECT
    2*(rank() OVER (ORDER BY l_quantity)) + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS rq,
    2*(rank() OVER (ORDER BY l_discount)) + COUNT(*) OVER (PARTITION BY l_discount) - 1 AS rd,
    2*(rank() OVER (ORDER BY l_tax)) + COUNT(*) OVER (PARTITION BY l_tax) - 1 AS rt
  FROM lineitem),
s AS (SELECT COUNT(*) AS n,
    SUM(rq*rd) AS s_qd, SUM(rq*rt) AS s_qt, SUM(rd*rt) AS s_dt,
    SUM(rq) AS s_q, SUM(rd) AS s_d, SUM(rt) AS s_t,
    SUM(rq*rq) AS ss_q, SUM(rd*rd) AS ss_d, SUM(rt*rt) AS ss_t FROM r),
d AS (SELECT
    n*s_qd - s_q*s_d AS num_qd, n*s_qt - s_q*s_t AS num_qt,
    n*s_dt - s_d*s_t AS num_dt,
    n*ss_q - s_q*s_q AS da_q, n*ss_d - s_d*s_d AS da_d,
    n*ss_t - s_t*s_t AS da_t FROM s),
e AS (SELECT *,
    0.5 - CAST(num_qd AS DOUBLE)/(sqrt(CAST(da_q AS DOUBLE))*sqrt(CAST(da_d AS DOUBLE)))/2.0 AS raw_qd,
    0.5 - CAST(num_qt AS DOUBLE)/(sqrt(CAST(da_q AS DOUBLE))*sqrt(CAST(da_t AS DOUBLE)))/2.0 AS raw_qt,
    0.5 - CAST(num_dt AS DOUBLE)/(sqrt(CAST(da_d AS DOUBLE))*sqrt(CAST(da_t AS DOUBLE)))/2.0 AS raw_dt
  FROM d)
SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
  CASE WHEN da_q = 0 OR da_d = 0 THEN NULL
       WHEN num_qd = da_q AND da_q = da_d THEN 0.0
       WHEN num_qd = -da_q AND da_q = da_d THEN 1.0
       WHEN raw_qd <= 0 THEN 0.0 WHEN raw_qd >= 1 THEN 1.0 ELSE raw_qd END AS dist
FROM e
UNION ALL
SELECT 'l_quantity', 'l_tax',
  CASE WHEN da_q = 0 OR da_t = 0 THEN NULL
       WHEN num_qt = da_q AND da_q = da_t THEN 0.0
       WHEN num_qt = -da_q AND da_q = da_t THEN 1.0
       WHEN raw_qt <= 0 THEN 0.0 WHEN raw_qt >= 1 THEN 1.0 ELSE raw_qt END
FROM e
UNION ALL
SELECT 'l_discount', 'l_tax',
  CASE WHEN da_d = 0 OR da_t = 0 THEN NULL
       WHEN num_dt = da_d AND da_d = da_t THEN 0.0
       WHEN num_dt = -da_d AND da_d = da_t THEN 1.0
       WHEN raw_dt <= 0 THEN 0.0 WHEN raw_dt >= 1 THEN 1.0 ELSE raw_dt END
FROM e
""")
def q_distance_spearman_cols(spark, sf_dir):
    """Spearman distance BETWEEN columns. A global rank() would serialize the
    table through one partition; instead each column's value→2·avg-rank map
    (exact int64) is a per-distinct-value aggregate (small) cumulated and
    joined back — ranking 100 TB without ever globally sorting it.  The
    correlation sums are exact decimal(38,0) (order-independent partials,
    HUGEINT in the oracle), so both engines reach the one mirrored
    sqrt+divide with identical integers — same bit-identical-IEEE argument
    as q_distance_spearman_rows, at any partition count."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return D.spearman_column_distances(
        li, ["l_quantity", "l_discount", "l_tax"])


@query("q_outlier_lof", """
WITH f AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x,
                  p_retailprice AS y FROM part WHERE p_partkey <= 500),
d AS (SELECT a.id AS pid, b.id AS oid,
             sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS dist
      FROM f a JOIN f b ON a.id <> b.id),
knn AS (SELECT * FROM (
          SELECT pid, oid, dist,
                 row_number() OVER (PARTITION BY pid ORDER BY dist, oid) AS rn
          FROM d) WHERE rn <= 5),
kdist AS (SELECT pid, max(dist) AS kd FROM knn GROUP BY pid),
reach AS (SELECT knn.pid, knn.oid, greatest(ko.kd, knn.dist) AS rd
          FROM knn JOIN kdist ko ON knn.oid = ko.pid),
lrd AS (SELECT pid, 1.0 / avg(rd) AS lrd FROM reach GROUP BY pid)
SELECT knn.pid AS p_partkey, round(avg(lo.lrd) / any_value(lp.lrd), 9) AS lof
FROM knn JOIN lrd lo ON knn.oid = lo.pid JOIN lrd lp ON knn.pid = lp.pid
GROUP BY knn.pid
""")
def q_outlier_lof(spark, sf_dir):
    """Local Outlier Factor over part (size, price), k=5 — the reference's
    sklearn-wrapped LOF re-derived as joins + windows + grouped aggregates,
    exact and oracle-checked end to end."""
    (part,) = fixtures(spark, sf_dir, "part")
    pts = part.filter(F.col("p_partkey") <= 500).select(
        "p_partkey", F.col("p_size").cast("double").alias("x"),
        F.col("p_retailprice").alias("y"))
    out = O.lof(pts, "p_partkey", ["x", "y"], k=5)
    return out.select("p_partkey", F.round("lof", 9).alias("lof"))


def _pr_contrib_cte(prev: str) -> str:
    return f"""(SELECT e.dst AS node,
                CAST(sum(((r.rank * 85) // 100) // o.d) AS BIGINT) AS c
         FROM edges e
         JOIN {prev} r ON e.src = r.node
         JOIN od o ON e.src = o.src
         GROUP BY e.dst)"""


@query("q_pagerank", f"""
WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT 'C' || CAST(c AS VARCHAR) AS src,
                 'S' || CAST(s AS VARCHAR) AS dst FROM e0
          UNION ALL
          SELECT 'S' || CAST(s AS VARCHAR), 'C' || CAST(c AS VARCHAR)
          FROM e0),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS rank
       FROM nodes, nn),
i1 AS (SELECT nd.node,
              CAST((1000000000000 * 15) // 100 // nn.n
                   + COALESCE(cb.c, 0) AS BIGINT) AS rank
       FROM nodes nd CROSS JOIN nn
       LEFT JOIN {_pr_contrib_cte('r0')} cb ON nd.node = cb.node),
i2 AS (SELECT nd.node,
              CAST((1000000000000 * 15) // 100 // nn.n
                   + COALESCE(cb.c, 0) AS BIGINT) AS rank
       FROM nodes nd CROSS JOIN nn
       LEFT JOIN {_pr_contrib_cte('i1')} cb ON nd.node = cb.node),
i3 AS (SELECT nd.node,
              CAST((1000000000000 * 15) // 100 // nn.n
                   + COALESCE(cb.c, 0) AS BIGINT) AS rank
       FROM nodes nd CROSS JOIN nn
       LEFT JOIN {_pr_contrib_cte('i2')} cb ON nd.node = cb.node)
SELECT node, rank FROM i3 ORDER BY rank DESC, node LIMIT 20
""")
def q_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph.py) over the symmetric
    customer↔supplier trade graph (both directions of every distinct
    customer→supplier lineitem pair, so every node has out-edges and
    the dangling term is structurally zero — the engine still computes
    it, as an exactly-0 integer).  Three iterations in exact int64
    parts-per-10^12; the oracle unrolls the identical integer update,
    and the top-20 cut is deterministic because ranks are exact
    integers with a node-id tiebreak."""
    from orange3_spark.operators.graph import pagerank_topk

    orders, li = fixtures(spark, sf_dir, "orders", "lineitem")
    e0 = (orders.join(li, orders.o_orderkey == li.l_orderkey)
          .select("o_custkey", "l_suppkey").distinct())
    # both directions via ONE explode over the distinct pair set — a
    # union of two selects re-executes the join+distinct once per
    # branch (guide §1.2: the input derivation is the expensive part);
    # row set identical to the former two-branch union
    c = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    edges = (e0.select(F.explode(F.array(
        F.struct(c.alias("src"), s.alias("dst")),
        F.struct(s.alias("src"), c.alias("dst")))).alias("e"))
        .select("e.src", "e.dst"))
    return pagerank_topk(edges, k=20, iterations=3)


@query("q_distance_transform", f"""
WITH f AS ({_NATION_SQL}),
d AS (SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
             sqrt(power(a.n_orders - b.n_orders, 2)
                  + power(a.avg_price - b.avg_price, 2)) AS dist
      FROM f a JOIN f b ON a.n_nationkey < b.n_nationkey),
m AS (SELECT max(dist) AS mx FROM d)
SELECT id_a, id_b,
       CASE WHEN mx > 0 THEN 1.0 - dist / mx ELSE 1.0 END AS dist
FROM d, m
""")
def q_distance_transform(spark, sf_dir):
    """Distance Transformation (owdistancetransformation.py): normalize
    the nation-feature distance table by its max and invert to a
    similarity — one lazily-folded max aggregate (broadcast scalar, no
    driver action) + a row-local map, mirrored in SQL."""
    from orange3_spark.stats.distance import distance_transform

    feats = _nation_features(spark, sf_dir)
    dist = D.row_distances(feats, "n_nationkey",
                           ["n_orders", "avg_price"], metric="euclidean")
    return (distance_transform(dist, normalize=True, invert=True)
            .select("id_a", "id_b", "dist"))


@query("q_drift_chi2", OR3.chi2_oracle)
def q_drift_chi2(spark, sf_dir):
    """Categorical drift monitor (the χ² companion of q_drift_psi):
    event-type distribution of early vs late events as an exact integer
    contingency; the χ² statistic is a driver-side pure function of
    those counts (shared verbatim with the replay oracle) — the
    per-batch alarm for categorical schema/mix shift."""
    from orange3_spark.stats.validation import drift_chi2

    (ev,) = fixtures(spark, sf_dir, "events")
    tab, chi2_q = drift_chi2(
        ev, "event_type",
        F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    return (tab.withColumn("chi2_q", F.lit(chi2_q).cast("long"))
            .orderBy("level"))
