"""TPC-H shapes, final batch (Q4, Q6, Q10, Q12, Q15, Q18) — completes
the classic 22-query shape suite over the driver's star schema
(columns the fixtures lack are stood in for by the closest available
one, noted per query).

These stress the remaining plan shapes the suite had not yet pinned:
EXISTS-driven priority counts (semi join), the pure scan-agg with
full predicate pushdown, returned-item top-k over a 3-dim join,
conditional shipmode counting, a max-revenue view join-back, and a
HAVING-threshold fact self-aggregation feeding a join.

Parity: revenue math uses the double-scaled integer-cent trick
(cents x discount-cents -> exact BIGINT sums; /1e4 once at the end),
quantities are integral in the fixtures and ride as longs, and every
top-k carries a total-order tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

_REV_CENTS = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * CAST(round((1 - l_discount) * 100) AS BIGINT)"
)


def _rev_cents() -> F.Column:
    return round_long(F.col("l_extendedprice") * 100) * round_long(
        (1 - F.col("l_discount")) * 100
    )


# --------------------------------------------------------------------------
# Q4: order-priority checking (EXISTS -> left semi join)
# --------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""


@register("order_priority_check", oracle=_Q4_ORACLE)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of one quarter's orders that
    have at least one line shipped more than 30 days after the order
    date (the fixtures lack commit/receipt dates, so late shipment
    stands in for late delivery). The EXISTS compiles to a LEFT SEMI
    join — the build side never duplicates matched orders, and the
    date filter is pushed into the orders scan. At 100 TB the
    orderkey semi join bucket-co-locates with the other
    orderkey-keyed joins."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


# --------------------------------------------------------------------------
# Q6: forecast revenue change (pure scan-agg, full pushdown)
# --------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      * CAST(round(l_discount * 100) AS BIGINT)) / 1e4 AS revenue_delta,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_quantity < 24
  AND round(l_discount * 100) BETWEEN 2 AND 4
"""


@register("forecast_revenue_change", oracle=_Q6_ORACLE)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical pure scan-aggregate — revenue that
    would have been gained by eliminating small discounts on
    small-quantity 1996 shipments. No join, no shuffle beyond the
    final 1-row reduce; the date and quantity predicates push into the
    parquet scan (plan-asserted) so row groups outside the year are
    never decoded. The discount band compares on exact integer cents
    (a raw double BETWEEN on 0.02..0.04 would be representation-
    sensitive on both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_cents = round_long(F.col("l_discount") * 100)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_quantity") < 24)
            & disc_cents.between(2, 4)
        )
        .agg(
            (
                F.sum(
                    round_long(F.col("l_extendedprice") * 100)
                    * disc_cents
                )
                / F.lit(1e4)
            ).alias("revenue_delta"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q10: returned-item revenue top-k
# --------------------------------------------------------------------------

_Q10_K = 20

_Q10_ORACLE = f"""
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
    sum({_REV_CENTS}) AS rev_c2
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-07-01'
  GROUP BY 1, 2, 3)
SELECT c_custkey, c_name, n_name,
  round(CAST(rev_c2 AS DOUBLE) / 1e4, 6) AS revenue
FROM rev
ORDER BY rev_c2 DESC, c_custkey LIMIT {_Q10_K}
"""


@register("returned_item_revenue", oracle=_Q10_ORACLE)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-{0} customers by revenue lost to returned
    items over two quarters. Return-flag and date filters push to the
    two scans before the orderkey shuffle join; customer and nation
    broadcast; the top-k compiles to a TakeOrderedAndProject heap on
    the EXACT integer revenue (ordering on a rounded double would make
    the cut nondeterministic across engines), with custkey as the
    total-order tiebreak.""".format(_Q10_K)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_cents()).alias("rev_c2"))
    )
    return (
        rev.orderBy(F.col("rev_c2").desc(), F.col("c_custkey").asc())
        .limit(_Q10_K)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev_c2").cast("double") / 1e4, 6).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q12: shipping-mode priority counts (conditional aggregation)
# --------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


@register("shipmode_priority_counts", oracle=_Q12_ORACLE)
def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship-mode (line status stands in — the
    fixtures lack l_shipmode) counts of high- vs low-priority orders
    among 1996 shipments. One fact-fact join with the year filter
    pushed to the lineitem scan, then a conditional map-side-combinable
    aggregation — the canonical CASE-WHEN-split count."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q15: top supplier (max-revenue view join-back)
# --------------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, sum({_REV_CENTS}) AS total_c2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1),
m AS (SELECT max(total_c2) AS max_c2 FROM rev)
SELECT s_suppkey, s_name,
  round(CAST(total_c2 AS DOUBLE) / 1e4, 6) AS total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey CROSS JOIN m
WHERE total_c2 = max_c2
"""


@register("top_supplier", oracle=_Q15_ORACLE)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view (one quarter's per-supplier
    revenue) joined back against its own maximum — ties all surface,
    exactly as the spec's `total_revenue = (SELECT max...)` demands.
    The quarter filter pushes to the scan; the view aggregates
    map-side-combinably on suppkey; the 1-row max frame injects as a scalar subquery
    back (the accepted tiny-BNLJ pattern); supplier is a broadcast
    dim. Revenue compares on EXACT integer units so the max-tie set is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_cents()).alias("total_c2")
    )
    m = rev.agg(F.max("total_c2").alias("max_c2"))
    return (
        rev.transform(with_scalars, m)
        .filter(F.col("total_c2") == F.col("max_c2"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_c2").cast("double") / 1e4, 6).alias(
                "total_revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Q18: large-volume customers (HAVING threshold -> join-back)
# --------------------------------------------------------------------------

_Q18_QTY = 120

_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity) > {_Q18_QTY})
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
  round(o_totalprice, 6) AS o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


@register("large_volume_customers", oracle=_Q18_ORACLE)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds {0},
    with their customers. The quantity HAVING collapses lineitem to
    O(orders) map-side-combinably BEFORE any join (aggregate-then-join
    — joining first would carry every line through the shuffle);
    qualifying orders then join orders (orderkey-bucketable) and the
    broadcast customer dim. Quantities are integral in the fixtures,
    so the threshold compares exact longs.""".format(_Q18_QTY)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 6).alias("o_totalprice"),
            "total_qty",
        )
    )


# --------------------------------------------------------------------------
# Open-order backlog aging (operational fulfillment report)
# --------------------------------------------------------------------------

_AGING_ORACLE = """
WITH mx AS (SELECT max(o_orderdate) AS asof_d FROM orders),
open_o AS (
  SELECT o_orderkey, o_orderpriority,
    date_diff('day', o_orderdate, asof_d) AS age_days,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN mx WHERE o_orderstatus = 'O'),
bucketed AS (
  SELECT o_orderpriority,
    CASE WHEN age_days < 30 THEN '0-29'
         WHEN age_days < 90 THEN '30-89'
         WHEN age_days < 365 THEN '90-364'
         ELSE '365+' END AS age_bucket,
    cents
  FROM open_o)
SELECT o_orderpriority, age_bucket,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(CAST(sum(cents) AS DOUBLE) / 100.0, 6) AS open_value
FROM bucketed GROUP BY 1, 2
"""


@register("order_backlog_aging", oracle=_AGING_ORACLE)
def order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: orders still in status 'O' bucketed
    by age (against the latest order date) per priority, with the
    money at stake — the fulfillment-operations report that pairs
    with the cycle-time percentile SLA view.

    Scale shape: status filter pushes to the scan, the as-of date is
    a scalar-subquery 1-row max, bucketing is a map-side CASE, and the
    rollup is map-side combinable over O(priorities × buckets)
    groups. Integer cents; day ages exact."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("asof_d"))
    open_o = (
        o.filter(F.col("o_orderstatus") == "O")
        .transform(with_scalars, mx)
        .select(
            "o_orderpriority",
            F.datediff(F.col("asof_d"), F.col("o_orderdate")).alias(
                "age_days"
            ),
            round_long(F.col("o_totalprice") * 100).alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") < 30, "0-29")
        .when(F.col("age_days") < 90, "30-89")
        .when(F.col("age_days") < 365, "90-364")
        .otherwise("365+")
    )
    return (
        open_o.select("o_orderpriority", bucket.alias("age_bucket"), "cents")
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("cents").cast("double") / 100.0, 6).alias(
                "open_value"
            ),
        )
    )
