"""Hard TPC-H join shapes (round 3, second batch): Q21's correlated
EXISTS/NOT-EXISTS pair, Q22's anti-join + global scalar threshold,
Q2's min-per-group join-back, and Q16's distinct-count after an
exclusion anti-join — the four classic shapes a query engine must
plan well beyond plain equi-joins. Adapted to the driver's columns
(no partsupp/commitdate/phone in the fixture): lineitem stands in as
the part-supplier association and return flags as the lateness
signal; the join/agg structure is the point.

Money rides as integer cents; the Q22 threshold comparison is an
integer cross-multiplication (cents * n > sum_cents), so no division
ever happens before the final display columns.
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
# Q21 shape: sole-blame suppliers (EXISTS + NOT EXISTS on the fact table)
# --------------------------------------------------------------------------

_Q21_TOPK = 10

_Q21_ORACLE = f"""
WITH l1 AS (
  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey
LIMIT {_Q21_TOPK}
"""


@register("sole_blame_suppliers", oracle=_Q21_ORACLE)
def sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (reference inventory's hardest join pattern):
    suppliers whose returned lineitem sits in a multi-supplier order
    where NO other supplier's item was returned — one correlated
    EXISTS (left-semi) and one NOT EXISTS (left-anti), both on the
    fact table itself, then a broadcast dim join and top-k.

    Scale shape: both the semi and the anti join are equi-joins on
    l_orderkey with the supplier inequality as a residual predicate —
    they shuffle on the SAME key as the probe side, so AQE plans one
    exchange per side and co-partitions the chain; nothing is ever
    nested-loop. The supplier dim broadcasts; the final top-k is
    TakeOrderedAndProject. At 100 TB this is 3 fact-scale shuffles on
    one key — the unavoidable minimum for this semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    survivors = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        survivors.join(
            F.broadcast(sup.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(_Q21_TOPK)
    )


# --------------------------------------------------------------------------
# Q22 shape: rich customers with no orders (anti-join + scalar threshold)
# --------------------------------------------------------------------------

# lapse cutoff: the fixture's orders span 1995-01..2001-08; customers
# with no order at-or-after this date count as lapsed (every customer
# has SOME order in the fixture, so Q22's no-orders-ever is degenerate)
_Q22_CUTOFF = "1998-06-01 00:00:00"

_Q22_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
thr AS (
  SELECT CAST(sum(cents) AS BIGINT) AS sum_pos, count(*) AS n_pos
  FROM c WHERE cents > 0),
idle AS (
  SELECT c.c_mktsegment, c.cents
  FROM c, thr
  WHERE c.cents * thr.n_pos > thr.sum_pos
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'))
SELECT c_mktsegment,
       count(*) AS n_custs,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(cents) AS DOUBLE) / 100 AS total_acctbal
FROM idle GROUP BY 1
"""


@register("idle_rich_customers", oracle=_Q22_ORACLE)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers whose balance exceeds the global
    average positive balance but who have not ordered since the lapse
    cutoff — a scalar aggregate threshold plus a NOT EXISTS anti-join
    (date-filtered, since every fixture customer has some order),
    rolled up per market segment.

    Parity trick: the threshold compare is the integer
    cross-multiplication cents * n_pos > sum_pos — the average is
    never materialized as a float, so there is no division whose
    rounding could flip a boundary customer between engines.

    Scale shape: the 1-row threshold frame injects as a scalar subquery; the anti-join
    shuffles customer vs orders on custkey (orders pre-projected to
    its join key only — column pruning reaches the scan); the final
    rollup has |segments| keys. One fact-scale shuffle total."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c = cust.select(
        "c_custkey",
        "c_mktsegment",
        round_long(F.col("c_acctbal") * 100).alias("cents"),
    )
    thr = c.filter(F.col("cents") > 0).agg(
        F.sum("cents").cast("long").alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    idle = (
        c.transform(with_scalars, thr)
        .filter(F.col("cents") * F.col("n_pos") > F.col("sum_pos"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp")
            ).select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum("cents").cast("long").alias("total_cents"),
        (F.sum("cents").cast("double") / 100).alias("total_acctbal"),
    )


# --------------------------------------------------------------------------
# Q2 shape: min-cost supplier per part (min-per-group + join-back)
# --------------------------------------------------------------------------

_Q2_MIN_SIZE = 40  # keep the audited part subset selective, like Q2's p_size

_Q2_ORACLE = f"""
WITH assoc AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2),
best AS (
  SELECT l_partkey, min(unit_cost) AS min_cost
  FROM assoc GROUP BY 1)
SELECT p.p_partkey, p.p_brand,
       round(b.min_cost, 6) AS min_unit_cost,
       count(*) AS n_tied,
       CAST(min(a.l_suppkey) AS BIGINT) AS best_suppkey
FROM part p
JOIN best b ON p.p_partkey = b.l_partkey
JOIN assoc a ON a.l_partkey = b.l_partkey AND a.unit_cost = b.min_cost
WHERE p.p_size >= {_Q2_MIN_SIZE}
GROUP BY 1, 2, 3
"""


@register("min_cost_supplier", oracle=_Q2_ORACLE)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each (large) part, the supplier offering the
    minimum unit cost — the min-per-group + join-back-on-the-min
    pattern (a correlated scalar subquery in the original), with ties
    counted and broken deterministically by min suppkey.

    The join-back equality is on a DOUBLE, which is safe here by
    construction: both engines compute unit_cost as the same single
    IEEE division of identical parquet doubles, and min() picks from
    identical value sets — no accumulated arithmetic, so the equality
    is exact. (The registry rule is 'no float equality after
    re-associated arithmetic'; a one-op derived value is the allowed
    case, same as cosine_topk's score ties.)

    Scale shape: the (part, supplier) association collapses first
    (map-side combinable), the per-part min is a second small
    aggregate on the SAME key prefix — co-partitioned, no extra
    exchange — and the join-back runs assoc-vs-best on l_partkey,
    again the same key. The part dim broadcasts. One fact-scale
    shuffle, everything downstream rides it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    assoc = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = assoc.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        part.filter(F.col("p_size") >= _Q2_MIN_SIZE)
        .select("p_partkey", "p_brand")
        .join(best, F.col("p_partkey") == F.col("l_partkey"))
        .drop("l_partkey")
        .join(
            assoc,
            (F.col("p_partkey") == F.col("l_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .groupBy("p_partkey", "p_brand", F.round("min_cost", 6).alias("min_unit_cost"))
        .agg(
            F.count(F.lit(1)).alias("n_tied"),
            F.min("l_suppkey").cast("long").alias("best_suppkey"),
        )
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier diversity per part group (distinct after anti-join)
# --------------------------------------------------------------------------

_Q16_ORACLE = """
WITH excluded AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
assoc AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type,
       count(DISTINCT a.l_suppkey) AS supplier_cnt,
       count(*) AS n_assoc
FROM assoc a
JOIN part p ON a.l_partkey = p.p_partkey
WHERE NOT EXISTS (
  SELECT 1 FROM excluded e WHERE e.s_suppkey = a.l_suppkey)
GROUP BY 1, 2
"""


@register("supplier_diversity", oracle=_Q16_ORACLE)
def supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct (non-excluded) suppliers
    serve each part group — a distinct-pair reduction of the fact
    table, an exclusion anti-join (negative-balance suppliers stand in
    for Q16's complaints list), a dim join, and count(DISTINCT) per
    group.

    Scale shape: the fact table first collapses to distinct
    (part, supplier) pairs — map-side combinable and the only
    fact-scale shuffle; the exclusion list and the part dim both
    broadcast (the exclusion side of a NOT IN is always the small
    side); the final distinct-count runs over the already-collapsed
    association, its expand keyed by bounded (brand, type) groups."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    excluded = sup.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    assoc = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(excluded), "l_suppkey", "left_anti")
    )
    return (
        assoc.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(
            F.count_distinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_assoc"),
        )
    )


# --------------------------------------------------------------------------
# Entity resolution: blocked fuzzy match over the part-name vocabulary
# --------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2

_FUZZY_ORACLE = f"""
WITH vocab AS (
  SELECT p_name, count(*) AS n_parts
  FROM part GROUP BY 1),
b AS (
  SELECT p_name, n_parts,
         str_split(p_name, ' ')[-1] AS block,
         length(p_name) AS ln
  FROM vocab)
SELECT a.p_name AS name_a, b2.p_name AS name_b,
       CAST(levenshtein(a.p_name, b2.p_name) AS BIGINT) AS dist,
       a.n_parts AS n_a, b2.n_parts AS n_b
FROM b a JOIN b b2
  ON a.block = b2.block
 AND a.p_name < b2.p_name
 AND abs(a.ln - b2.ln) <= {_FUZZY_MAX_DIST}
WHERE levenshtein(a.p_name, b2.p_name) <= {_FUZZY_MAX_DIST}
"""


@register("fuzzy_name_matches", oracle=_FUZZY_ORACLE)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: name pairs within
    Levenshtein distance {d}, candidate-blocked by shared last token
    (the head noun) and a length band — the fuzzy-dedup step a product
    catalog runs before canonicalizing listings ('cold bolt' vs 'old
    bolt'), complementing the content-hash exact pass and the shingle
    Jaccard pass with TYPO-class matching neither catches.

    Scale shape: resolution runs on the DISTINCT attribute vocabulary
    (collapsed first — vocab << rows, and per-name part counts come
    along for free on the same aggregate), so the quadratic stage
    never sees the fact table; blocking makes the candidate set
    sum-of-squares over block sizes instead of |vocab|^2, with the
    length band (|len diff| > d implies dist > d, a true bound — the
    blocking key itself is the standard recall trade-off, documented)
    pre-filtering before the O(len^2) edit-distance kernel runs.
    Levenshtein is a JVM built-in (whole-stage codegen) with identical
    classic-cost semantics in DuckDB — the oracle checks the distances
    themselves.""".format(d=_FUZZY_MAX_DIST)
    part = load_table(spark, sf_dir, "part")
    vocab = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    b = vocab.select(
        "p_name",
        "n_parts",
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
        F.length("p_name").alias("ln"),
    )
    right = b.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        F.col("block").alias("block_b"),
        F.col("ln").alias("ln_b"),
    )
    return (
        b.join(
            right,
            (F.col("block") == F.col("block_b"))
            & (F.col("p_name") < F.col("name_b"))
            & (F.abs(F.col("ln") - F.col("ln_b")) <= _FUZZY_MAX_DIST),
        )
        .withColumn("dist", F.levenshtein(F.col("p_name"), F.col("name_b")))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select(
            F.col("p_name").alias("name_a"),
            "name_b",
            F.col("dist").cast("long").alias("dist"),
            F.col("n_parts").alias("n_a"),
            "n_b",
        )
    )


# --------------------------------------------------------------------------
# Pareto frontier (2D skyline): cheapest-per-size part catalog
# --------------------------------------------------------------------------

_SKY_BUCKETS = 256

_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


@register("pareto_frontier", oracle=_SKYLINE_ORACLE)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto frontier (skyline): parts not dominated on
    (minimize retail price, maximize size) — 'no cheaper part is at
    least as big'. The oracle is the textbook quadratic NOT EXISTS;
    the Spark plan is the O(n log n) sweep, decomposed for scale: a
    part is on the frontier iff its size equals its price level's max
    AND strictly exceeds the running size-max over all cheaper levels.

    The running max never becomes a global single-partition window
    over the catalog: price levels bucket by width_bucket, the
    exclusive cross-bucket prefix max is an O({b})-row window (the
    bounded already-aggregated class), and within-bucket running
    maxes partition by bucket — the same two-pass shape as the rank
    statistics (functions/ranks.py). All comparisons are raw parquet
    values (no arithmetic), so cross-engine equality is exact. Ties:
    duplicate (price, size) rows dominate nothing strictly, so both
    survive in both formulations.""".format(b=_SKY_BUCKETS)
    from pyspark.sql import Window as W

    part = load_table(spark, sf_dir, "part")
    lv = part.groupBy("p_retailprice").agg(F.max("p_size").alias("lmax"))
    bounds = lv.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    b = lv.transform(with_scalars, bounds).withColumn(
        "bkt",
        F.least(
            F.width_bucket(
                F.col("p_retailprice"), F.col("lo"), F.col("hi"), _SKY_BUCKETS
            ),
            F.lit(_SKY_BUCKETS),
        ),
    )
    bw = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bmax = (
        b.groupBy("bkt")
        .agg(F.max("lmax").alias("bmax"))
        .select("bkt", F.max("bmax").over(bw).alias("pre_bucket_max"))
    )
    iw = (
        W.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    levels = (
        b.select(
            "p_retailprice",
            "lmax",
            "bkt",
            F.max("lmax").over(iw).alias("in_bucket_prev"),
        )
        .join(F.broadcast(bmax), "bkt")
        .select(
            "p_retailprice",
            "lmax",
            F.greatest(
                F.coalesce(F.col("pre_bucket_max"), F.lit(-(1 << 31))),
                F.coalesce(F.col("in_bucket_prev"), F.lit(-(1 << 31))),
            ).alias("prev_max"),
        )
    )
    return (
        part.join(levels, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("lmax"))
            & (F.col("p_size") > F.col("prev_max"))
        )
        .select(
            "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
        )
    )


# --------------------------------------------------------------------------
# Q17 shape: small-quantity revenue (correlated per-group average)
# --------------------------------------------------------------------------

_Q17_ORACLE = """
WITH q AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem),
a AS (
  SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS sum_qc, count(*) AS n
  FROM q GROUP BY 1)
SELECT count(*) AS n_small,
       CAST(sum(q.pc) AS BIGINT) AS revenue_cents,
       round(CAST(sum(q.pc) AS DOUBLE) / 100 / 7, 6) AS avg_yearly
FROM q JOIN a ON q.l_partkey = a.l_partkey
WHERE q.qc * 5 * a.n < a.sum_qc
"""


@register("small_quantity_revenue", oracle=_Q17_ORACLE)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in orders below 20% of their
    part's average quantity — the correlated per-group average
    (a scalar subquery per row in the original) expressed as one
    aggregate + self-join on the group key.

    Parity trick: quantity < avg/5 becomes the integer
    cross-multiplication qc * 5 * n < sum_qc — the average is never a
    float, so no boundary row can flip between engines. Scale shape:
    the per-part sufficient statistics (sum, count) are one map-side
    combinable aggregate; the join-back shuffles on the SAME l_partkey
    as the aggregate, so the chain rides one exchange; the final
    report is a 1-row sum."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_partkey",
        round_long(F.col("l_quantity") * 100).alias("qc"),
        round_long(F.col("l_extendedprice") * 100).alias("pc"),
    )
    a = q.groupBy("l_partkey").agg(
        F.sum("qc").cast("long").alias("sum_qc"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        q.join(a, "l_partkey")
        .filter(F.col("qc") * 5 * F.col("n") < F.col("sum_qc"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum("pc").cast("long").alias("revenue_cents"),
            F.round(F.sum("pc").cast("double") / 100 / 7, 6).alias("avg_yearly"),
        )
    )


# --------------------------------------------------------------------------
# Q11 shape: important stock (group share above a total fraction)
# --------------------------------------------------------------------------

_Q11_FRACTION_DEN = 25  # keep nations holding > 1/25 of total value

_Q11_ORACLE = f"""
WITH v AS (
  SELECT n.n_name,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1),
t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM v)
SELECT v.n_name, v.value_cents,
       round(CAST(v.value_cents AS DOUBLE) / t.total, 6) AS share
FROM v, t
WHERE v.value_cents * {_Q11_FRACTION_DEN} > t.total
"""


@register("important_stock", oracle=_Q11_ORACLE)
def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: supplier nations holding more than 1/{d} of
    total supplied value — a grouped sum filtered against a fraction
    of the global total (a scalar subquery in the original).

    Parity trick: the HAVING is value * {d} > total — exact integers,
    no float threshold. Scale shape: one fact-scale aggregate keyed by
    the broadcast-joined nation (bounded key space, map-side
    combinable); the 1-row total injects as a scalar subquery over the O(nations)
    frame. The share division happens only for display.""".format(
        d=_Q11_FRACTION_DEN
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    v = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(round_long(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("value_cents")
        )
    )
    t = v.agg(F.sum("value_cents").cast("long").alias("total"))
    return (
        v.transform(with_scalars, t)
        .filter(F.col("value_cents") * _Q11_FRACTION_DEN > F.col("total"))
        .select(
            "n_name",
            "value_cents",
            F.round(
                F.col("value_cents").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Q14 shape: promo revenue share per ship month (conditional ratio)
# --------------------------------------------------------------------------

_Q14_ORACLE = """
WITH j AS (
  SELECT date_trunc('month', l.l_shipdate) AS ship_month,
         p.p_type = 'PROMO' AS is_promo,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
              AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
SELECT ship_month,
       CAST(sum(CASE WHEN is_promo THEN rev ELSE 0 END) AS BIGINT)
         AS promo_rev_e4,
       CAST(sum(rev) AS BIGINT) AS total_rev_e4,
       round(100.0 * sum(CASE WHEN is_promo THEN rev ELSE 0 END)
             / sum(rev), 6) AS promo_share_pct
FROM j GROUP BY 1
"""


@register("promo_revenue_share", oracle=_Q14_ORACLE)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the monthly share of revenue from promotional
    parts — a conditional-sum ratio over a broadcast dim join, the
    market-response metric shape.

    Revenue rides as exact 1e-4-unit integers (price x (1-discount)
    rounds once per row, identically in both engines), so both ratio
    operands are exact and the single display division cannot drift.
    Scale shape: broadcast part dim, one month-keyed
    map-side-combinable aggregate — bounded output."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    )
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li.l_partkey == part.p_partkey,
    ).select(
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        (F.col("p_type") == "PROMO").alias("is_promo"),
        rev.alias("rev"),
    )
    promo = F.sum(F.when(F.col("is_promo"), F.col("rev")).otherwise(F.lit(0)))
    return j.groupBy("ship_month").agg(
        promo.cast("long").alias("promo_rev_e4"),
        F.sum("rev").cast("long").alias("total_rev_e4"),
        F.round(F.lit(100.0) * promo / F.sum("rev"), 6).alias("promo_share_pct"),
    )
