"""Join-family + scan/aggregate queries over the TPC-H-ish tables.

Covers SURVEY §2.3 equi-join shapes (J2/J8 broadcast dim joins, J11
outer join) and the partial+final aggregation family on lineitem.
Large-table sums use the integer-scaled trick for bit-stable results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.functions.exact import round_long

# --------------------------------------------------------------------------
# TPC-H Q1-style pricing summary (scan -> filter -> agg)
# --------------------------------------------------------------------------

_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
  count(*) AS count_order,
  sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
      AS sum_disc_price,
  round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / count(*), 6) AS avg_qty,
  round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / count(*), 6)
      AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_ORACLE)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: predicate pushdown into the parquet scan +
    map-side-combinable conditional aggregation (A-family)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = round_long(F.col("l_quantity") * 100)
    price_c = round_long(F.col("l_extendedprice") * 100)
    disc_c = round_long(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            (F.sum(qty_c) / 100.0).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(disc_c) / 10000.0).alias("sum_disc_price"),
            F.round(F.sum(qty_c) / 100.0 / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(price_c) / 100.0 / F.count(F.lit(1)), 6).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# Broadcast dim-join chain (J2/J8 shape): customer -> nation -> region
# --------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       count(*) AS n_customers,
       sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0 AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


@register("customer_enrich", oracle=_ENRICH_ORACLE)
def customer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J8 shape: fact table enriched through explicitly-broadcast dim
    tables (nation/region are tiny at every SF) — no shuffle of the
    fact side for the join itself."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(round_long(F.col("c_acctbal") * 100)) / 100.0).alias(
                "total_acctbal"
            ),
        )
    )


# --------------------------------------------------------------------------
# Fact-fact equi-join + agg (orders x lineitem)
# --------------------------------------------------------------------------

_ORDER_REV_ORACLE = """
SELECT o.o_orderpriority,
       count(DISTINCT o.o_orderkey) AS n_orders,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))
           / 10000.0 AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY 1
"""


@register("order_revenue", oracle=_ORDER_REV_ORACLE)
def order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join on the order key: both sides hash-
    partition on o_orderkey/l_orderkey (AQE picks SMJ/SHJ and handles
    skew); filter pushed below the join."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    rev = round_long(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            (F.sum(rev) / 10000.0).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# J11 full-outer join + coalesce fill
# --------------------------------------------------------------------------

_OUTER_ORACLE = """
WITH top_cnt AS (
  SELECT user_id, count(*) AS n_click FROM events
  WHERE event_type = 'click' GROUP BY 1),
bot_cnt AS (
  SELECT user_id, count(*) AS n_error FROM events
  WHERE event_type = 'error' GROUP BY 1)
SELECT coalesce(t.user_id, b.user_id) AS user_id,
       coalesce(t.n_click, 0) AS n_click,
       coalesce(b.n_error, 0) AS n_error
FROM top_cnt t FULL OUTER JOIN bot_cnt b ON t.user_id = b.user_id
"""


@register("counts_outer_join", oracle=_OUTER_ORACLE)
def counts_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: top-counts ⟗ bottom-counts with zero-fill
    (trading_strategy.py:415-416)."""
    e = load_table(spark, sf_dir, "events")
    top = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    bot = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_error"))
    )
    t, b = top.alias("t"), bot.alias("b")
    return (
        t.join(b, F.col("t.user_id") == F.col("b.user_id"), "full_outer")
        .select(
            F.coalesce(F.col("t.user_id"), F.col("b.user_id")).alias("user_id"),
            F.coalesce(F.col("n_click"), F.lit(0)).alias("n_click"),
            F.coalesce(F.col("n_error"), F.lit(0)).alias("n_error"),
        )
    )


# --------------------------------------------------------------------------
# JSON extraction over events.props (extension: S-family for semi-structured)
# --------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


@register("json_extract_props", oracle=_JSON_ORACLE)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object stays JVM-side; at
    scale prefer from_json once per row with an explicit schema."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# --------------------------------------------------------------------------
# TPC-H Q5-style multi-way join (supplier/nation/region coverage)
# --------------------------------------------------------------------------

_REGIONAL_ORACLE = """
SELECT r_name, n_name,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * CAST(round((1 - l_discount) * 100) AS BIGINT)) / 1e4 AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@register("regional_supplier_revenue", oracle=_REGIONAL_ORACLE)
def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact-fact shuffle join (lineitem ⨝ orders on
    orderkey) with every dimension broadcast (customer/supplier/nation/
    region), including the local-supplier predicate c_nationkey =
    s_nationkey. At 100 TB the orderkey join would be bucket-co-located
    (functions/partitioning.write_bucketed); dims stay broadcast.
    Revenue uses the double-scaled integer trick (cents × discount
    cents → exact BIGINT sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = round_long(F.col("l_extendedprice") * 100) * round_long(
        (1 - F.col("l_discount")) * 100
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(rev) / F.lit(1e4)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q14-style part-type revenue share (part coverage)
# --------------------------------------------------------------------------

_PART_TYPE_ORACLE = """
WITH rev AS (
  SELECT p_type,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS rev_scaled
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type
)
SELECT p_type,
  rev_scaled / 1e4 AS revenue,
  round(rev_scaled / sum(rev_scaled) OVER (), 6) AS revenue_share
FROM rev
"""


@register("part_type_revenue", oracle=_PART_TYPE_ORACLE)
def part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: broadcast dim join (part) + share-of-total via
    a scalar-subquery-style broadcast of the 1-row total (round-2
    rewrite: no unpartitioned window at all, so WindowExec warning
    noise can't mask real plan regressions; integer-scaled sums keep
    the total exact either way)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = round_long(F.col("l_extendedprice") * 100) * round_long(
        (1 - F.col("l_discount")) * 100
    )
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.sum(rev).alias("rev_scaled"))
    )
    total = agg.agg(F.sum("rev_scaled").alias("__total"))
    return agg.transform(with_scalars, total).select(
        "p_type",
        (F.col("rev_scaled") / F.lit(1e4)).alias("revenue"),
        F.round(F.col("rev_scaled") / F.col("__total"), 6).alias("revenue_share"),
    )


# --------------------------------------------------------------------------
# Semi / anti joins (round 2: the two join types the inventory lacked)
# --------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 5e-2)
"""


@register("discounted_orders_semijoin", oracle=_SEMI_ORACLE)
def discounted_orders_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders with at least one deep-discount
    line. The probe side never widens — semi joins carry no lineitem
    columns through the shuffle, and the filter is pushed below the
    join on the build side."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return o.join(
        l, o.o_orderkey == l.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


_ANTI_ORACLE = """
SELECT o_orderkey, o_orderstatus
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
"""


@register("unreturned_orders_antijoin", oracle=_ANTI_ORACLE)
def unreturned_orders_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): orders with no returned line —
    the declarative complement of the semi join, same narrow-shuffle
    property."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return o.join(
        l, o.o_orderkey == l.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus")


# --------------------------------------------------------------------------
# TPC-H Q3-shape: top unshipped orders by revenue (round 3)
# --------------------------------------------------------------------------

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1998-06-01"
_Q3_TOPK = 10

_Q3_ORACLE = f"""
SELECT l.l_orderkey AS o_orderkey,
       any_value(o.o_orderdate) AS o_orderdate,
       any_value(o.o_orderpriority) AS o_orderpriority,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS DOUBLE) / 100 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{_Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{_Q3_DATE}'
  AND l.l_shipdate > TIMESTAMP '{_Q3_DATE}'
GROUP BY 1
ORDER BY revenue DESC, o_orderkey ASC
LIMIT {_Q3_TOPK}
"""


@register("top_unshipped_orders", oracle=_Q3_ORACLE)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-{k} {segment}-segment orders placed before a
    date whose lines ship after it, ranked by discounted revenue.

    Scale shape: both date predicates and the segment filter reach the
    parquet scans (PushedFilters); customer is the broadcast dim; the
    one real shuffle is lineitem->orders on orderkey with map-side
    partial aggregation; the final top-k is TakeOrderedAndProject
    (per-partition heaps + driver merge, never a global sort). Revenue
    is integer cents per line before the sum — bit-stable under any
    aggregation order.""".format(k=_Q3_TOPK, segment=_Q3_SEGMENT)
    cutoff = F.lit(_Q3_DATE).cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    cents = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.any_value("o_orderdate").alias("o_orderdate"),
            F.any_value("o_orderpriority").alias("o_orderpriority"),
            (F.sum(cents).cast("double") / 100).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(_Q3_TOPK)
    )


# --------------------------------------------------------------------------
# Range join via bucketing (round 3): interval containment WITHOUT the
# BroadcastNestedLoopJoin a naive BETWEEN join plans
# --------------------------------------------------------------------------

_RJ_WINDOW_US = 3_600_000_000  # 1-hour post-purchase window
_RJ_BIN_US = 3_600_000_000  # bucket width >= interval length => <=2 bins


_RANGE_JOIN_ORACLE = f"""
WITH p AS (
  SELECT user_id, min(epoch_us(ts)) AS start_us
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
e AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'error')
SELECT p.user_id, p.start_us,
       count(e.us) AS n_errors
FROM p LEFT JOIN e
  ON e.user_id = p.user_id
 AND e.us >= p.start_us AND e.us <= p.start_us + {_RJ_WINDOW_US}
GROUP BY 1, 2
"""


@register("post_purchase_errors", oracle=_RANGE_JOIN_ORACLE)
def post_purchase_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment (range join): count error events inside
    each user's 1-hour window after their first purchase.

    The naive formulation — join ON user AND ts BETWEEN lo AND hi —
    gives Catalyst only a non-equi predicate beyond user_id, which on
    a skewed user or a dimension-less variant degrades to
    BroadcastNestedLoop. The scale pattern (used by every
    production range-join implementation, and plan-asserted here):
    bucket BOTH sides by a bin no smaller than the interval length,
    explode each interval to the <=2 bins it overlaps, equi-join on
    (user_id, bin) — shuffle-partitionable, AQE-skew-splittable — and
    keep BETWEEN as a residual filter. Each event matches at most one
    exploded bin of a given interval, so no post-join dedup is needed.
    LEFT semantics survive the explode: an interval's unmatched bin
    rows contribute zero to count(e.us)."""
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("start_us"))
    )
    bin_of = lambda c: F.floor(c / F.lit(_RJ_BIN_US))  # noqa: E731
    p_bins = p.select(
        "user_id",
        "start_us",
        F.explode(
            F.sequence(
                bin_of(F.col("start_us")),
                bin_of(F.col("start_us") + _RJ_WINDOW_US),
            )
        ).alias("bin"),
    )
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        us.alias("us"),
        bin_of(us).alias("bin"),
    )
    j = p_bins.join(
        err,
        (F.col("user_id") == F.col("e_user"))
        & (p_bins["bin"] == err["bin"])
        & (F.col("us") >= F.col("start_us"))
        & (F.col("us") <= F.col("start_us") + _RJ_WINDOW_US),
        "left",
    )
    return j.groupBy("user_id", "start_us").agg(
        F.count("us").alias("n_errors")
    )


# --------------------------------------------------------------------------
# TPC-H Q7-shape: bilateral trade volume between two nations by year
# --------------------------------------------------------------------------

_Q7_N1 = "NATION_19"
_Q7_N2 = "NATION_3"

_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS DOUBLE) / 100 AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
   OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}')
GROUP BY 1, 2, 3
"""


@register("nation_trade_volume", oracle=_Q7_ORACLE)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: yearly trade volume between two nations in both
    directions — the same dimension joined twice under different roles
    (supplier nation vs customer nation) with a disjunctive
    cross-role predicate.

    Scale shape: supplier, customer, and both nation aliases broadcast
    (all dims); the only real shuffle is lineitem->orders on orderkey.
    The OR predicate over the two role assignments cannot prune to a
    single nation per side, but it evaluates post-broadcast-join as a
    cheap row filter — no plan degradation. Volume is integer cents
    per line before aggregation (bit-stable)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    cents = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    )
    pair = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(cents).cast("double") / 100).alias("volume"))
    )
