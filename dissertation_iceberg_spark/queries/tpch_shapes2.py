"""Hard TPC-H join shapes (round 3, third batch): Q13's outer-join
count distribution, Q19's disjunctive OR-of-ANDs predicate join,
Q8's market-share ratio over a snowflake, Q9's multi-dim profit
rollup, and Q20's dominant-supplier nested aggregate — the remaining
classic planner stress shapes from the reference inventory's SQL
family. Adapted to the driver's columns (no partsupp/comment/
shipmode in the fixture): order priority stands in for the Q13
comment filter, p_retailprice for Q9's supply cost, and shipped
quantity for Q20's available stock.

Money rides as integer cents / 1e-4 units (one round per row,
identical in both engines); every threshold is an integer
cross-multiplication; ratios divide only for display, rounded to 6 dp
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (outer join + histogram)
# --------------------------------------------------------------------------

# stand-in for Q13's `o_comment NOT LIKE '%special%requests%'`
_Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"

_Q13_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n
  FROM orders
  WHERE o_orderpriority <> '{_Q13_EXCLUDED_PRIORITY}'
  GROUP BY 1)
SELECT coalesce(p.n, 0) AS c_count, count(*) AS custdist
FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY 1
"""


@register("order_count_distribution", oracle=_Q13_ORACLE)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts
    INCLUDING zero-order customers — the outer-join-then-histogram
    pattern (reference uses the same shape for per-user event counts,
    trading_strategy.py:415-416 zero-fill).

    Scale shape: orders pre-aggregates to one row per customer BEFORE
    the join (fact-scale map-side-combinable count), so the outer join
    is dim x dim, not dim x fact; the histogram re-agg is O(customers)
    in, O(distinct counts) out. The naive plan (join first, then
    count) would shuffle the full fact table — this one shuffles it
    only through a combiner."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != _Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cust.select("c_custkey")
        .join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunctive brand/quantity/size revenue (OR-of-ANDs join)
# --------------------------------------------------------------------------

# (brand, qty_lo, qty_hi, size_hi) arms; p_size >= 1 always holds
_Q19_ARMS = (
    ("Brand#12", 1, 11, 5),
    ("Brand#23", 10, 20, 10),
    ("Brand#4", 20, 30, 15),
)

_Q19_ARM_SQL = " OR ".join(
    f"(p.p_brand = '{b}' AND l.l_quantity BETWEEN {lo} AND {hi}"
    f" AND p.p_size BETWEEN 1 AND {sz})"
    for b, lo, hi, sz in _Q19_ARMS
)

_Q19_ORACLE = f"""
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                     AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE {_Q19_ARM_SQL}
"""


@register("disjunctive_brand_revenue", oracle=_Q19_ORACLE)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue where an OR of three conjunctive
    (brand, quantity-range, size-range) arms holds — the disjunctive
    predicate a planner must split across both join sides rather than
    evaluate post-join.

    Scale shape: Catalyst distributes the disjunction — the
    brand/size union reaches the part scan and the quantity-range
    union reaches the lineitem scan as pushed filters (each row's arm
    membership still checked post-join, but both scans shrink first).
    The surviving part side broadcasts; no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        li.l_partkey == part.p_partkey,
    )
    arm = None
    for b, lo, hi, sz in _Q19_ARMS:
        cond = (
            (F.col("p_brand") == b)
            & F.col("l_quantity").between(lo, hi)
            & F.col("p_size").between(1, sz)
        )
        arm = cond if arm is None else (arm | cond)
    rev = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    )
    return j.filter(arm).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("long").alias("revenue_e4"),
    )


# --------------------------------------------------------------------------
# Q8 shape: national market share by order year (conditional ratio)
# --------------------------------------------------------------------------

_Q8_NATION = "NATION_7"

_Q8_ORACLE = f"""
WITH j AS (
  SELECT year(o.o_orderdate) AS order_year,
         n.n_name = '{_Q8_NATION}' AS is_target,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
              AS BIGINT) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey)
SELECT order_year,
       CAST(sum(CASE WHEN is_target THEN rev ELSE 0 END) AS BIGINT)
         AS target_rev_e4,
       CAST(sum(rev) AS BIGINT) AS total_rev_e4,
       round(CAST(sum(CASE WHEN is_target THEN rev ELSE 0 END) AS DOUBLE)
             / sum(rev), 6) AS mkt_share
FROM j GROUP BY 1
"""


@register("nation_market_share", oracle=_Q8_ORACLE)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total supplied revenue
    per order year — a conditional-sum ratio over the full
    lineitem-orders-supplier-nation snowflake.

    Both ratio operands ride as exact 1e-4-unit integers (one round
    per row); the division is display-only, 6 dp both sides. Scale
    shape: the ONE fact-fact shuffle (lineitem x orders on orderkey)
    is unavoidable for this semantics; supplier and nation broadcast;
    the year-keyed aggregate is map-side combinable into O(years)
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.year("o_orderdate").alias("order_year"),
            (F.col("n_name") == _Q8_NATION).alias("is_target"),
            rev.alias("rev"),
        )
    )
    target = F.sum(F.when(F.col("is_target"), F.col("rev")).otherwise(F.lit(0)))
    return j.groupBy("order_year").agg(
        target.cast("long").alias("target_rev_e4"),
        F.sum("rev").cast("long").alias("total_rev_e4"),
        F.round(target.cast("double") / F.sum("rev"), 6).alias("mkt_share"),
    )


# --------------------------------------------------------------------------
# Q9 shape: product profit by supplier nation and year
# --------------------------------------------------------------------------

_Q9_NAME_TOKEN = "widget"

_Q9_ORACLE = f"""
WITH amt AS (
  SELECT n.n_name, year(o.o_orderdate) AS order_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
              AS BIGINT)
           - CAST(round(p.p_retailprice * 5000) AS BIGINT)
             * CAST(round(l.l_quantity) AS BIGINT) AS amount_e4
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%{_Q9_NAME_TOKEN}%')
SELECT n_name, order_year,
       count(*) AS n_lines,
       CAST(sum(amount_e4) AS BIGINT) AS profit_e4
FROM amt GROUP BY 1, 2
"""


@register("product_profit", oracle=_Q9_ORACLE)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus supply cost) on one
    product family, rolled up by supplier nation and order year — the
    five-table snowflake with a selective dim filter that must reach
    the part scan. Supply cost stands in as half of p_retailprice
    (the fixture has no partsupp).

    Parity trick: cost = round(retail * 5000) * round(qty) — both
    factors are exact integers (quantity is integral in the fixture),
    so profit is an exact integer difference; no float subtraction.
    Scale shape: the p_name filter prunes the part dim BEFORE its
    broadcast, which then prunes lineitem via the join; only the
    surviving lines pay the orders shuffle. Nation x year output is
    bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    fam = part.filter(F.col("p_name").contains(_Q9_NAME_TOKEN)).select(
        "p_partkey", "p_retailprice"
    )
    amount = (
        round_long(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        )
        - round_long(F.col("p_retailprice") * 5000)
        * round_long(F.col("l_quantity"))
    )
    j = (
        li.join(F.broadcast(fam), li.l_partkey == fam.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("order_year"),
            amount.alias("amount_e4"),
        )
    )
    return j.groupBy("n_name", "order_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("amount_e4").cast("long").alias("profit_e4"),
    )


# --------------------------------------------------------------------------
# Q20 shape: dominant part suppliers (nested aggregate threshold)
# --------------------------------------------------------------------------

_Q20_ORACLE = """
WITH pair AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS pair_qty
  FROM lineitem GROUP BY 1, 2),
tot AS (
  SELECT l_partkey, CAST(sum(pair_qty) AS BIGINT) AS part_qty,
         count(*) AS n_sups
  FROM pair GROUP BY 1),
dom AS (
  SELECT pair.l_suppkey, count(*) AS n_dominated
  FROM pair JOIN tot ON pair.l_partkey = tot.l_partkey
  WHERE pair.pair_qty * tot.n_sups > 2 * tot.part_qty
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, d.n_dominated
FROM dom d JOIN supplier s ON d.l_suppkey = s.s_suppkey
"""


@register("dominant_part_suppliers", oracle=_Q20_ORACLE)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than twice their
    fair share of some part's total volume — the nested aggregate
    (per-pair sum vs per-part sum and supplier count) feeding a
    semi-join into the supplier dim. Shipped quantity stands in for
    available stock (no partsupp in the fixture); the fair-share
    multiple replaces Q20's absolute 50% cut so the filter stays
    selective-but-nonempty at every SF.

    Parity trick: the share test is the integer cross-multiplication
    pair_qty * n_sups > 2 * part_qty. Scale shape: the part total is
    a WINDOW over the pair table, not a second aggregate — a naive
    agg-then-join re-derives the pair subplan and scans the fact
    table twice (Spark has no automatic common-subplan reuse); the
    window form pays one fact scan, one fact-scale shuffle to
    (partkey, suppkey), and one pair-scale reshuffle to partkey. The
    dominated count is O(pairs) into O(suppliers) out, and the name
    join broadcasts the dim. Plan-asserted single-scan in
    tests/test_plans.py."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    pair = (
        li.select(
            "l_partkey",
            "l_suppkey",
            round_long(F.col("l_quantity")).alias("q"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").cast("long").alias("pair_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        pair.withColumn("part_qty", F.sum("pair_qty").over(w).cast("long"))
        .withColumn("n_sups", F.count(F.lit(1)).over(w))
        .filter(F.col("pair_qty") * F.col("n_sups") > 2 * F.col("part_qty"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated"))
    )
    return dom.join(
        F.broadcast(sup.select("s_suppkey", "s_name")),
        dom.l_suppkey == sup.s_suppkey,
    ).select("s_suppkey", "s_name", "n_dominated")
