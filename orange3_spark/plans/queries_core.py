"""Core relational queries: filters, joins, group-by, pivot, reshape, windows,
stats — each a `queries()` entry with a DuckDB oracle.

Implementation style: everything goes through the engine's operator modules
(filters/merge/groupby/reshape/window/stats), never raw SQL on the Spark
side — the point is to exercise the operator surface end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orange3_spark.operators import groupby as G
from orange3_spark.operators import reshape as R
from orange3_spark.operators import window as W
from orange3_spark.operators.filters import (
    ContinuousOps, FilterContinuous, FilterRegex, FilterString, FilterStringList,
    IsDefined, StringOps, Values,
)
from orange3_spark.operators.merge import anti_join, merge, semi_join
from orange3_spark.plans.registry import fixtures, query
from orange3_spark.session import load_tables
from orange3_spark.stats import basic as S


# ------------------------------------------------------------------ flagship

@query("q1_filter_groupby", """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                        AS sum_qty,
       sum(l_extendedprice)                                   AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount))                AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))  AS sum_charge,
       avg(l_quantity)                                        AS avg_qty,
       avg(l_extendedprice)                                   AS avg_price,
       avg(l_discount)                                        AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped: FilterContinuous + groupby/aggregate — the
    reference's filter.py + aggregate.py vocabulary (SURVEY §7 step 2)."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    li = FilterContinuous("l_shipdate", ContinuousOps.LESS_EQUAL, "1998-09-02")(li)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = G.aggregate(
        li.withColumn("_disc_price", disc_price)
          .withColumn("_charge", disc_price * (1 + F.col("l_tax"))),
        ["l_returnflag", "l_linestatus"],
        {
            "l_quantity": [("sum", "sum_qty"), ("mean", "avg_qty")],
            "l_extendedprice": [("sum", "sum_base_price"), ("mean", "avg_price")],
            "_disc_price": [("sum", "sum_disc_price")],
            "_charge": [("sum", "sum_charge")],
            "l_discount": [("mean", "avg_disc")],
            "l_orderkey": [("count", "count_order")],
        },
    )
    return out.select("l_returnflag", "l_linestatus", "sum_qty",
                      "sum_base_price", "sum_disc_price", "sum_charge",
                      "avg_qty", "avg_price", "avg_disc", "count_order")


# -------------------------------------------------------------------- filters

@query("q_filter_values_tree", """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
FROM lineitem
WHERE ((l_quantity BETWEEN 10 AND 20) OR (l_discount > 0.07))
  AND (l_returnflag <> 'A' OR l_returnflag IS NULL)
""")
def q_filter_values_tree(spark, sf_dir):
    """Values boolean tree (filter.py:200-244) with Orange's NULL-matching
    NotEqual (sql/filter.py:53)."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    cond = Values(conditions=[
        Values(conditions=[
            FilterContinuous("l_quantity", ContinuousOps.BETWEEN, 10, max=20),
            FilterContinuous("l_discount", ContinuousOps.GREATER, 0.07),
        ], conjunction=False),
        FilterString("l_returnflag", StringOps.NOT_EQUAL, "A"),
    ], conjunction=True)
    return cond(li).select("l_orderkey", "l_linenumber", "l_quantity",
                           "l_discount", "l_returnflag")


@query("q_filter_string", """
SELECT p_partkey, p_name, p_brand, p_type
FROM part
WHERE (contains(p_name, 'widget') OR p_name LIKE 'small%')
  AND lower(p_type) IN ('promo', 'economy')
  AND regexp_matches(p_name, '(bolt|widget)$')
""")
def q_filter_string(spark, sf_dir):
    """FilterString contains/startswith + FilterStringList (case-insensitive)
    + FilterRegex (filter.py:400-554)."""
    (part,) = fixtures(spark, sf_dir, "part")
    cond = Values(conditions=[
        Values(conditions=[
            FilterString("p_name", StringOps.CONTAINS, "widget"),
            FilterString("p_name", StringOps.STARTS_WITH, "small"),
        ], conjunction=False),
        FilterStringList("p_type", ["PROMO", "ECONOMY"], case_sensitive=False),
        FilterRegex("p_name", "(bolt|widget)$"),
    ])
    return cond(part).select("p_partkey", "p_name", "p_brand", "p_type")


@query("q_filter_isdefined", """
SELECT count(*) AS n_defined
FROM lineitem
WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL
""")
def q_filter_isdefined(spark, sf_dir):
    (li,) = fixtures(spark, sf_dir, "lineitem")
    out = IsDefined(["l_quantity", "l_discount", "l_tax"])(li)
    return out.agg(F.count(F.lit(1)).alias("n_defined"))


# ---------------------------------------------------------------------- joins

@query("q_join_inner", """
SELECT o_orderkey, o_totalprice, o_orderstatus, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
""")
def q_join_inner(spark, sf_dir):
    """Merge Data 'Find matching pairs' (owmergedata.py inner) — dim side
    broadcast so the fact table is never shuffled."""
    orders, customer = fixtures(spark, sf_dir, "orders", "customer")
    j = merge(orders, customer, ["o_custkey"], ["c_custkey"], how="inner",
              check_unique=False, broadcast_right=True)
    return j.select("o_orderkey", "o_totalprice", "o_orderstatus",
                    "c_custkey", "c_name", "c_mktsegment")


@query("q_join_left_agg", """
SELECT c_custkey, c_name, c_mktsegment, n_orders, total_spent
FROM customer
LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total_spent
    FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
""")
def q_join_left_agg(spark, sf_dir):
    """Merge Data 'Append columns' (left outer) with right-side uniqueness
    check (owmergedata.py:453-497)."""
    orders, customer = fixtures(spark, sf_dir, "orders", "customer")
    per_cust = G.aggregate(orders, ["o_custkey"], {
        "o_orderkey": [("count", "n_orders")],
        "o_totalprice": [("sum", "total_spent")],
    })
    j = merge(customer, per_cust, ["c_custkey"], ["o_custkey"], how="left")
    return j.select("c_custkey", "c_name", "c_mktsegment", "n_orders",
                    "total_spent")


@query("q5_region_revenue", """
SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
""")
def q5_region_revenue(spark, sf_dir):
    """TPC-H-Q5-shaped snowflake join: fact table joined through three
    broadcast dims — zero shuffles until the final groupBy."""
    li, orders, customer, nation, region = fixtures(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    orders = FilterContinuous("o_orderdate", ContinuousOps.GREATER_EQUAL,
                              "1996-01-01")(orders)
    region = FilterString("r_name", StringOps.EQUAL, "ASIA")(region)
    j = merge(li, orders, ["l_orderkey"], ["o_orderkey"], how="inner",
              check_unique=False, broadcast_right=False)
    j = merge(j, customer, ["o_custkey"], ["c_custkey"], how="inner",
              check_unique=False, broadcast_right=True)
    j = merge(j, nation, ["c_nationkey"], ["n_nationkey"], how="inner",
              check_unique=False, broadcast_right=True)
    j = merge(j, region, ["n_regionkey"], ["r_regionkey"], how="inner",
              check_unique=False, broadcast_right=True)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    return G.aggregate(j.withColumn("_rev", rev), ["n_name"],
                       {"_rev": [("sum", "revenue")]})


@query("q_semi_join", """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
""")
def q_semi_join(spark, sf_dir):
    """Select-by-Data-Index keep case → left_semi (owselectbydataindex.py)."""
    orders, customer = fixtures(spark, sf_dir, "orders", "customer")
    p = FilterString("o_orderstatus", StringOps.EQUAL, "P")(orders)
    keys = p.select(F.col("o_custkey").alias("c_custkey"))
    return semi_join(customer, keys, ["c_custkey"]).select("c_custkey", "c_name")


@query("q_anti_join", """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
""")
def q_anti_join(spark, sf_dir):
    """Select-by-Data-Index remove case → left_anti."""
    orders, customer = fixtures(spark, sf_dir, "orders", "customer")
    p = FilterString("o_orderstatus", StringOps.EQUAL, "P")(orders)
    keys = p.select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(customer, keys, ["c_custkey"]).select("c_custkey", "c_name")


# ------------------------------------------------------------------- group-by

@query("q_groupby_matrix", """
SELECT event_type,
       avg(value)                      AS value_mean,
       quantile_cont(value, 0.5)       AS value_median,
       quantile_cont(value, 0.25)      AS value_q1,
       quantile_cont(value, 0.75)      AS value_q3,
       min(value)                      AS value_min,
       max(value)                      AS value_max,
       stddev_samp(value)              AS value_std,
       var_samp(value)                 AS value_var,
       sum(value)                      AS value_sum,
       max(value) - min(value)         AS value_span,
       count(value)                    AS value_count_defined,
       count(*)                        AS value_count,
       count(value) / count(*)         AS value_proportion_defined
FROM events
GROUP BY event_type
""")
def q_groupby_matrix(spark, sf_dir):
    """The Group-By widget agg matrix (owgroupby.py:57-183) minus the
    order-dependent/random aggs, exact percentiles."""
    (events,) = fixtures(spark, sf_dir, "events")
    return G.aggregate(events, ["event_type"], {
        "value": ["mean", "median", "q1", "q3", "min", "max", "std", "var",
                  "sum", "span", "count_defined", "count",
                  "proportion_defined"],
    })


@query("q_concatenate_agg", """
SELECT o_orderstatus,
       string_agg(o_orderpriority, ' ' ORDER BY o_orderpriority) AS o_orderpriority_concatenate
FROM orders
GROUP BY o_orderstatus
""")
def q_concatenate_agg(spark, sf_dir):
    """Concatenate aggregation — ' '-joined values (owgroupby.py:57-62),
    sorted for distributed determinism."""
    (orders,) = fixtures(spark, sf_dir, "orders")
    return G.aggregate(orders, ["o_orderstatus"],
                       {"o_orderpriority": ["concatenate"]})


# ---------------------------------------------------------------------- pivot

@query("q_pivot", """
SELECT l_returnflag,
       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F_sum,
       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O_sum
FROM lineitem GROUP BY l_returnflag
""")
def q_pivot(spark, sf_dir):
    """Pivot (owpivot.py) — known column values passed explicitly, skipping
    the distinct-collection job."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return R.pivot(li, "l_returnflag", "l_linestatus", "l_quantity", "sum",
                   col_values=["F", "O"])


@query("q_pivot_cube_totals", """
SELECT l_returnflag, l_linestatus, count(*) AS total_count
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_pivot_cube_totals(spark, sf_dir):
    """Pivot h/v/grand totals (owpivot.py:115-127) in ONE pass via cube —
    grouping sets are the free Spark win SURVEY §2.5 calls out."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return R.pivot_totals(li, "l_returnflag", "l_linestatus", None, "count") \
            .withColumnRenamed("total_count", "total_count")


# --------------------------------------------------------------------- melt

@query("q_melt", """
SELECT l_orderkey, l_linenumber, item, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS item, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
) WHERE value IS NOT NULL
""")
def q_melt(spark, sf_dir):
    """Melt wide→long (owmelt.py:200-296) via the stack generator — row-local,
    no shuffle."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return R.melt(li, ["l_orderkey", "l_linenumber"],
                  ["l_quantity", "l_extendedprice", "l_discount"])


# -------------------------------------------------------------------- unique

@query("q_unique_first", """
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""")
def q_unique_first(spark, sf_dir):
    """Unique widget, 'first' tiebreaker over explicit order
    (owunique.py:30-35) — row_number window, one shuffle."""
    (orders,) = fixtures(spark, sf_dir, "orders")
    return R.unique(orders, ["o_custkey"], tiebreaker="first",
                    order_col="o_orderkey") \
            .select("o_orderkey", "o_custkey", "o_totalprice")


@query("q_topk_per_group", """
SELECT c_mktsegment, c_custkey, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
""")
def q_topk_per_group(spark, sf_dir):
    (customer,) = fixtures(spark, sf_dir, "customer")
    return W.top_k_per_group(
        customer.select("c_mktsegment", "c_custkey", "c_acctbal"),
        ["c_mktsegment"], [F.col("c_acctbal").desc(), F.col("c_custkey")], 3)


# ------------------------------------------------------------------- windows

@query("q_window_lag", """
SELECT event_id, user_id, value,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_lag1
FROM events
""")
def q_window_lag(spark, sf_dir):
    (events,) = fixtures(spark, sf_dir, "events")
    return W.with_lag(events, "value", ["user_id"], ["ts", "event_id"]) \
            .select("event_id", "user_id", "value", "value_lag1")


@query("q_window_cumsum", """
SELECT event_id, user_id,
       sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS value_sum_cum
FROM events
""")
def q_window_cumsum(spark, sf_dir):
    (events,) = fixtures(spark, sf_dir, "events")
    return W.with_cumulative(events, "value", "sum", ["user_id"],
                             ["ts", "event_id"]) \
            .select("event_id", "user_id", "value_sum_cum")


# --------------------------------------------------------------------- stats

@query("q_distribution", """
SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS freq
FROM orders WHERE o_orderpriority IS NOT NULL
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def q_distribution(spark, sf_dir):
    """Discrete distribution (distribution.py:101) — grouped count."""
    (orders,) = fixtures(spark, sf_dir, "orders")
    return S.distribution(orders, "o_orderpriority")


@query("q_contingency", """
SELECT l_returnflag, l_linestatus, count(*) AS freq
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
GROUP BY l_returnflag, l_linestatus
""")
def q_contingency(spark, sf_dir):
    """Contingency (contingency.py:31-340) — 2-D grouped count."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return S.contingency(li, "l_returnflag", "l_linestatus")


@query("q_histogram", """
WITH b AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem),
     w AS (SELECT mn, (mx - mn) / 10.0 AS width FROM b)
SELECT CAST(least(floor((l_quantity - mn) / width), 9) AS INT) AS bucket,
       count(*) AS freq,
       mn + least(floor((l_quantity - mn) / width), 9) * width AS lo,
       mn + (least(floor((l_quantity - mn) / width), 9) + 1) * width AS hi
FROM lineitem, w
WHERE l_quantity IS NOT NULL
GROUP BY 1, 3, 4 ORDER BY 1
""")
def q_histogram(spark, sf_dir):
    """Equal-width histogram — binned counts (owdistributions.py shape)."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return S.histogram(li, "l_quantity", bins=10)


@query("q_basic_stats", """
SELECT 'l_quantity' AS variable, CAST(min(l_quantity) AS DOUBLE) AS min,
       CAST(max(l_quantity) AS DOUBLE) AS max, avg(l_quantity) AS mean,
       var_samp(l_quantity) AS var,
       CAST(count(*) - count(l_quantity) AS DOUBLE) AS nans,
       CAST(count(l_quantity) AS DOUBLE) AS non_nans
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', CAST(min(l_extendedprice) AS DOUBLE),
       CAST(max(l_extendedprice) AS DOUBLE), avg(l_extendedprice),
       var_samp(l_extendedprice),
       CAST(count(*) - count(l_extendedprice) AS DOUBLE),
       CAST(count(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', CAST(min(l_discount) AS DOUBLE),
       CAST(max(l_discount) AS DOUBLE), avg(l_discount),
       var_samp(l_discount),
       CAST(count(*) - count(l_discount) AS DOUBLE),
       CAST(count(l_discount) AS DOUBLE)
FROM lineitem
""")
def q_basic_stats(spark, sf_dir):
    """BasicStats one-pass per-column stats (basic_stats.py:18-52) — all
    columns in a single agg scan."""
    (li,) = fixtures(spark, sf_dir, "lineitem")
    return S.basic_stats(li, ["l_quantity", "l_extendedprice", "l_discount"])


# ----------------------------------------------------------------- reshaping

@query("q_concat_source", """
SELECT o_orderkey, o_orderstatus, o_totalprice, src FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'open' AS src
  FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'done'
  FROM orders WHERE o_orderstatus = 'F'
)
""")
def q_concat_source(spark, sf_dir):
    """Concatenate widget: union with provenance column
    (owconcatenate.py:237)."""
    (orders,) = fixtures(spark, sf_dir, "orders")
    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    a = FilterString("o_orderstatus", StringOps.EQUAL, "O")(o)
    b = FilterString("o_orderstatus", StringOps.EQUAL, "F")(o)
    return R.concatenate([a, b], source_column="src",
                         source_values=["open", "done"])


@query("q_create_class", """
SELECT p_partkey, p_name,
       CASE WHEN contains(p_name, 'widget') THEN 'widgetish'
            WHEN contains(p_name, 'bolt') THEN 'boltish'
            ELSE 'other' END AS class
FROM part
""")
def q_create_class(spark, sf_dir):
    """Create Class — ordered substring rules, first match wins
    (owcreateclass.py:24-70)."""
    (part,) = fixtures(spark, sf_dir, "part")
    return R.create_class(part, "p_name",
                          [("widget", "widgetish"), ("bolt", "boltish")],
                          default="other") \
            .select("p_partkey", "p_name", "class")


@query("q_udaf_geomean", """
SELECT l_returnflag,
       round(exp(avg(ln(CAST(l_quantity AS DOUBLE)))), 6) AS geomean_qty,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
""")
def q_udaf_geomean(spark, sf_dir):
    """Custom UDAF surface (Orange's Python-defined aggregates /
    owpythonscript escape hatch): geometric mean per group via the
    GROUPED_AGG Arrow wrapper (functions/python_script.py:grouped_agg).
    The oracle recomputes it as exp(avg(ln x)) — checking the Arrow
    transfer, grouping, and numeric path end-to-end.  6-decimal rounding
    absorbs summation-order fp drift between numpy and the SQL engine."""
    import numpy as np

    from orange3_spark.functions.python_script import grouped_agg
    d = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    geomean = grouped_agg(lambda s: float(np.exp(np.log(
        s.to_numpy(dtype="float64")).mean())))
    n_rows = grouped_agg(lambda s: len(s), "long")
    # GROUPED_AGG UDFs cannot mix with built-in aggregates in one agg —
    # count through the same wrapper
    out = (d.groupBy("l_returnflag")
            .agg(geomean(F.col("l_quantity").cast("double"))
                 .alias("geomean_qty"),
                 n_rows(F.col("l_quantity")).alias("n")))
    return out.withColumn("geomean_qty", F.round("geomean_qty", 6))


@query("q_asof_join", """
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       CAST(round(p.value, 6) AS DOUBLE) AS purchase_value,
       CAST(round(c.value, 6) AS DOUBLE) AS last_click_value,
       c.ts AS last_click_ts
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def q_asof_join(spark, sf_dir):
    """As-of join (engine extension; the time-series primitive the
    reference lacks): each purchase matched with the user's most recent
    prior-or-simultaneous click.  Implemented as union + ONE ordered
    window per user (operators/window.py:asof_join) — cost is a rolling
    aggregate, never an inequality-join explosion — and oracle-checked
    against DuckDB's native ASOF JOIN."""
    from orange3_spark.operators.window import asof_join
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    p = (ev.where(F.col("event_type") == "purchase")
           .select("event_id", "user_id", "ts", "value"))
    c = (ev.where(F.col("event_type") == "click")
           .select("user_id", "ts", "value"))
    out = asof_join(p, c, on="ts", by=["user_id"], right_cols=["value"])
    return out.select(
        "event_id", "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.round("right_value", 6).alias("last_click_value"),
        F.col("right_ts").alias("last_click_ts"))


@query("q_python_script", """
SELECT o_orderkey,
       round((o_totalprice - avg(o_totalprice)
                 OVER (PARTITION BY o_orderpriority))
             / stddev_pop(o_totalprice) OVER (PARTITION BY o_orderpriority),
             6) AS z
FROM orders
""")
def q_python_script(spark, sf_dir):
    """Python Script operator surface (Orange/widgets/data/owpythonscript.py
    escape hatch): an arbitrary pandas transform per group through the
    sandboxed applyInPandas wrapper (functions/python_script.py) — here a
    per-priority z-score, so the oracle replays it as window SQL.  Checks
    the Arrow group handoff, schema contract, and numeric parity."""
    import numpy as np

    from orange3_spark.functions.python_script import python_script
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.select("o_orderkey", "o_orderpriority",
                      F.col("o_totalprice").cast("double").alias("p"))

    def zscore(pdf):
        x = pdf["p"].to_numpy(dtype="float64")
        z = (x - x.mean()) / x.std()
        out = pdf[["o_orderkey"]].copy()
        out["z"] = np.round(z, 6)
        return out

    return python_script(d, zscore, "o_orderkey long, z double",
                         group_by=["o_orderpriority"])


@query("q_range_join", """
WITH p AS (SELECT event_id, user_id, epoch(ts) AS t FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch(ts) AS t, value FROM events
      WHERE event_type = 'click')
SELECT p.event_id, count(*) AS n_clicks,
       round(sum(c.value), 6) AS click_value
FROM p JOIN c ON p.user_id = c.user_id
              AND c.t >= p.t - 3600 AND c.t <= p.t
GROUP BY p.event_id
""")
def q_range_join(spark, sf_dir):
    """Range (interval) join — engine extension: clicks within the hour
    before each purchase by the same user.  Implemented as a time-bucket
    equi-join (right side replicated into 3 neighbor cells, exact filter
    after) so the plan is hash-join-shaped, never a nested-loop inequality
    join (operators/window.py:range_join); the oracle IS the inequality
    join, feasible at oracle scale."""
    from orange3_spark.functions.timeparse import epoch_seconds
    from orange3_spark.operators.window import range_join
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # epoch_seconds(fractional): tz-proof NTZ-safe equivalent of DuckDB's
    # epoch(ts) — sub-second parity decides boundary-row membership.
    t = epoch_seconds("ts", fractional=True).cast("double")
    p = (ev.where(F.col("event_type") == "purchase")
           .select("event_id", "user_id", t.alias("t")))
    c = (ev.where(F.col("event_type") == "click")
           .select("user_id", t.alias("t"), "value"))
    j = range_join(p, c, on="t", lower=-3600, upper=0, by=["user_id"],
                   right_cols=["value"])
    return (j.groupBy("event_id")
             .agg(F.count(F.lit(1)).alias("n_clicks"),
                  F.round(F.sum("right_value"), 6).alias("click_value")))


@query("q_groupby_weighted", """
SELECT l_returnflag,
       round(sum(l_quantity * l_extendedprice) / sum(l_quantity), 6)
           AS w_mean_price,
       round(sqrt(sum(l_quantity * l_extendedprice * l_extendedprice)
                      / sum(l_quantity)
                  - power(sum(l_quantity * l_extendedprice)
                              / sum(l_quantity), 2)), 6) AS w_std_price,
       round(sum(l_quantity * l_extendedprice), 4) AS w_sum_price,
       round(sum(l_quantity), 4) AS w_count
FROM lineitem GROUP BY l_returnflag
""")
def q_groupby_weighted(spark, sf_dir):
    """Instance-weighted group-by (reference W column, table.py:530-537):
    weighted mean/std/sum/count of extendedprice with quantity as the
    weight — all ratio-of-sums expressions, one shuffle
    (operators/groupby.py:weighted_agg_expr)."""
    from orange3_spark.operators.groupby import weighted_agg_expr as WA
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (li.groupBy("l_returnflag")
              .agg(F.round(WA("mean", "l_extendedprice", "l_quantity"), 6)
                   .alias("w_mean_price"),
                   F.round(WA("std", "l_extendedprice", "l_quantity"), 6)
                   .alias("w_std_price"),
                   F.round(WA("sum", "l_extendedprice", "l_quantity"), 4)
                   .alias("w_sum_price"),
                   F.round(WA("count", "l_extendedprice", "l_quantity"), 4)
                   .alias("w_count")))


@query("q_groupby_salted", """
SELECT l_returnflag,
       count(l_extendedprice) AS l_extendedprice_count,
       round(sum(l_extendedprice), 2) AS l_extendedprice_sum,
       round(avg(l_extendedprice), 6) AS l_extendedprice_mean,
       min(l_extendedprice) AS l_extendedprice_min,
       max(l_extendedprice) AS l_extendedprice_max
FROM lineitem GROUP BY l_returnflag
""")
def q_groupby_salted(spark, sf_dir):
    """Two-phase salted aggregation for skewed group keys
    (operators/groupby.py:salted_aggregate): phase 1 groups by (key,
    content-hash salt mod 32) so a hot key spreads over 32 reducers, phase
    2 merges ≤ groups×32 partial rows.  l_returnflag is exactly the shape
    that dies at 100 TB un-salted (3 keys, one reducer each); the oracle is
    the plain GROUP BY the decomposition must reproduce."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    out = G.salted_aggregate(
        li, ["l_returnflag"],
        {"l_extendedprice": ["count", "sum", "mean", "min", "max"]},
        n_salts=32, salt_on=["l_orderkey", "l_linenumber"])
    return out.select(
        "l_returnflag", "l_extendedprice_count",
        F.round("l_extendedprice_sum", 2).alias("l_extendedprice_sum"),
        F.round("l_extendedprice_mean", 6).alias("l_extendedprice_mean"),
        "l_extendedprice_min", "l_extendedprice_max")


@query("q_json_extract", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_max
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""")
def q_json_extract(spark, sf_dir):
    """Semi-structured metadata extraction — a training-data pipeline
    staple the reference lacks (Orange has no JSON surface; document /
    event metadata routinely ships as JSON strings).  Spark-first:
    ``get_json_object`` is a row-local JVM expression (whole-stage
    codegen, no Python), the extracted field casts to BIGINT and
    aggregates exactly; for repeated multi-field access, ``from_json``
    with an explicit schema would vectorize the parse once."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.filter(F.col("props").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(k).alias("k_sum"),
                 F.max(k).alias("k_max")))


@query("q_venn", """
WITH a AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
b AS (SELECT DISTINCT doc_id FROM documents
      WHERE source IN ('src0', 'src1')),
c AS (SELECT DISTINCT doc_id FROM documents WHERE n_chars > 150),
keys AS (SELECT doc_id FROM a UNION SELECT doc_id FROM b
         UNION SELECT doc_id FROM c),
m AS (SELECT k.doc_id,
             k.doc_id IN (SELECT doc_id FROM a) AS in_en,
             k.doc_id IN (SELECT doc_id FROM b) AS in_src01,
             k.doc_id IN (SELECT doc_id FROM c) AS in_long
      FROM keys k),
r AS (SELECT concat_ws('∩',
             CASE WHEN in_en THEN 'in_en' END,
             CASE WHEN in_src01 THEN 'in_src01' END,
             CASE WHEN in_long THEN 'in_long' END) AS region
      FROM m)
SELECT region, CAST(count(*) AS BIGINT) AS n_keys
FROM r GROUP BY region ORDER BY region
""")
def q_venn(spark, sf_dir):
    """Venn Diagram region counts (owvenndiagram.py — the widget's
    intersection computation without the GUI): three document subsets
    compared by doc_id through operators/setops.venn_counts — a cascade
    of full outer joins on pre-deduplicated keys, one groupBy for the
    region cardinalities.  Region labels are the widget's ∩-joined set
    names."""
    from orange3_spark.operators.setops import venn_counts

    (docs,) = fixtures(spark, sf_dir, "documents")
    tables = {
        "in_en": docs.where(F.col("lang") == "en").select("doc_id"),
        "in_src01": docs.where(F.col("source").isin("src0", "src1"))
                        .select("doc_id"),
        "in_long": docs.where(F.col("n_chars") > 150).select("doc_id"),
    }
    return venn_counts(tables, "doc_id").orderBy("region")


@query("q_resample_ffill", """
WITH e AS (SELECT user_id, ts, value FROM events
           WHERE user_id < 20 AND event_type = 'click'),
d AS (SELECT user_id, ts, max(value) AS value FROM e GROUP BY 1, 2),
b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo, max(ts) AS hi
      FROM e GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
             AS ts
      FROM b)
SELECT g.user_id, g.ts,
       CAST(round(d.value, 6) AS DOUBLE) AS filled_value,
       d.ts AS src_ts
FROM g ASOF LEFT JOIN d ON g.user_id = d.user_id AND g.ts >= d.ts
ORDER BY 1, 2
""")
def q_resample_ffill(spark, sf_dir):
    """Time-series resample + forward fill
    (operators/window.resample_ffill): twenty users' click values onto
    an hourly grid, most recent observation carried forward — the
    gap-fill primitive of monitoring/feature pipelines.  Grid = one
    bounds aggregate + a row-local sequence explode; fill = the as-of
    window (no inequality join); same-timestamp observations dedup by
    max.  Oracle: generate_series grid + DuckDB's native ASOF JOIN."""
    from orange3_spark.operators.window import resample_ffill

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    clicks = (ev.where((F.col("user_id") < 20)
                       & (F.col("event_type") == "click"))
              .select("user_id", "ts", "value"))
    out = resample_ffill(clicks, ts_col="ts", by=["user_id"],
                         value_col="value", step="1 hour")
    return (out.select("user_id", "ts",
                       F.round("filled_value", 6).alias("filled_value"),
                       "src_ts")
            .orderBy("user_id", "ts"))


@query("q_join_salted", """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents_total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""")
def q_join_salted(spark, sf_dir):
    """Skew-resilient salted join (operators/merge.salted_join — the
    JOIN half of the skew toolbox next to salted_aggregate): the
    orders->customer join runs with a 16-way content-hash salt on the
    fat side and the customer side exploded across salts, spreading a
    hot key over 16 reducers.  The salt refines the key partition, so
    the result is EXACTLY the plain join's — which is precisely what
    the oracle checks."""
    from orange3_spark.operators.merge import salted_join

    orders, customer, nation = fixtures(spark, sf_dir, "orders", "customer",
                                  "nation")
    j = salted_join(orders.select("o_custkey", "o_totalprice"),
                    customer.select(F.col("c_custkey").alias("o_custkey"),
                                    "c_nationkey"),
                    ["o_custkey"], n_salts=16)
    out = (j.join(F.broadcast(nation),
                  j.c_nationkey == nation.n_nationkey)
           .groupBy("n_name")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                      .cast("long")).cast("long").alias("cents_total"))
           .orderBy("n_name"))
    return out


def _ewma_w() -> str:
    from orange3_spark.operators.window import ewma_weights_q
    return "[" + ", ".join(str(w) for w in ewma_weights_q(0.4, 8)) + "]"


@query("q_ewma", """
WITH e AS (SELECT user_id, ts, event_id,
                  CAST(floor(CAST(max(value) AS DOUBLE) * 1048576.0 + 0.5)
                       AS BIGINT) AS xq
           FROM events WHERE user_id < 30
           GROUP BY user_id, ts, event_id),
a AS (SELECT user_id, ts, event_id,
             list(xq) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                 AS arr
      FROM e),
b AS (SELECT user_id, ts, event_id, len(arr) AS k, arr[i] AS x, i
      FROM a, unnest(generate_series(1, len(arr))) g(i))
SELECT user_id, ts, event_id,
       CAST(sum(x * ({w})[8 - k + i]) AS BIGINT) AS ewma_q
FROM b GROUP BY user_id, ts, event_id
ORDER BY user_id, ts, event_id
""".replace("{w}", _ewma_w()))
def q_ewma(spark, sf_dir):
    """Exponentially-weighted moving average
    (operators/window.ewma): per-user EWMA of event values over the
    last 8 observations — the time-decay smoother of monitoring/feature
    pipelines.  Weights are a driver-computed fixed-point table (pow is
    libm and drifts across engines), inputs quantize to x2^20 ints, so
    the windowed dot product is EXACT integer arithmetic — one
    partitioned window collect + a row-local fold, bit-replayable in
    SQL.  Warm-up rows use the suffix of the weight table (newest row
    always gets the largest weight).  The (user_id, ts, event_id)
    identity is deduped with groupBy-max FIRST (the resample_ffill tie
    rule), so parity never rests on an unasserted uniqueness of the
    events table."""
    from orange3_spark.operators.window import ewma

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = (ev.where(F.col("user_id") < 30)
         .groupBy("user_id", "ts", "event_id")
         .agg(F.max("value").alias("value")))
    out = ewma(d, value_col="value", ts_col="ts", by=["user_id"],
               order_tiebreak=["event_id"], alpha=0.4, window=8)
    return (out.select("user_id", "ts", "event_id", "ewma_q")
            .orderBy("user_id", "ts", "event_id"))


def _zorder_sql(a: str, b: str, bits: int = 8) -> str:
    terms = []
    for k in range(bits):
        terms.append(f"((({a} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({b} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


@query("q_zorder", """
WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS qa,
                  CAST(floor(CAST(l_extendedprice AS DOUBLE) / 2000.0)
                       AS BIGINT) AS qb
           FROM lineitem),
z AS (SELECT qa, qb, CAST({expr} AS BIGINT) AS zkey FROM d)
SELECT CAST(zkey // 256 AS BIGINT) AS zblock,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(qa) AS BIGINT) AS qa_min, CAST(max(qa) AS BIGINT) AS qa_max,
       CAST(min(qb) AS BIGINT) AS qb_min, CAST(max(qb) AS BIGINT) AS qb_max
FROM z GROUP BY 1 ORDER BY 1
""".replace("{expr}", _zorder_sql("qa", "qb", 8)))
def q_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key (operators/window.zorder_key):
    interleave quantity and a price bucket, then summarize per
    256-key z-block — the per-block (min, max) spans of BOTH dimensions
    are what parquet row-group stats would carry after a z-sorted
    write, i.e. the 2-D pruning story made inspectable.  Pure integer
    bit arithmetic, mirrored term for term in SQL."""
    from orange3_spark.operators.window import zorder_key

    (li,) = fixtures(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("qa"),
        F.floor(F.col("l_extendedprice").cast("double") / F.lit(2000.0))
        .cast("long").alias("qb"))
    z = d.withColumn("zkey", zorder_key("qa", "qb", bits=8))
    return (z.groupBy(F.expr("zkey div 256").alias("zblock"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("qa").alias("qa_min"), F.max("qa").alias("qa_max"),
                 F.min("qb").alias("qb_min"), F.max("qb").alias("qb_max"))
            .orderBy("zblock"))


@query("q_snapshot_diff", """
WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             WHERE o_orderkey % 10 < 7),
new AS (SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 6 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 10 BETWEEN 3 AND 9),
j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                  THEN 'unchanged' ELSE 'changed' END AS change
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT change, CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY change ORDER BY change
""")
def q_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff (operators/merge.snapshot_diff): two derived
    order snapshots (keys % 10 < 7 vs 3..9, with status mutated on the
    %10=6 slice) classified added/removed/changed/unchanged by one
    NULL-safe full outer join — the reconciliation census a MERGE INTO
    pipeline alerts on."""
    from orange3_spark.operators.merge import snapshot_diff

    (orders,) = fixtures(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    old = base.where(F.col("o_orderkey") % 10 < 7)
    new = (base.where((F.col("o_orderkey") % 10 >= 3)
                      & (F.col("o_orderkey") % 10 <= 9))
           .withColumn("o_orderstatus",
                       F.when(F.col("o_orderkey") % 10 == 6, F.lit("X"))
                       .otherwise(F.col("o_orderstatus"))))
    d = snapshot_diff(old, new, ["o_orderkey"])
    return (d.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("change"))
