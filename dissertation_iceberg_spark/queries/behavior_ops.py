"""Behavioral analytics over the event stream (round 3): ordered
funnel conversion and cohort retention — the two workhorse queries of
any event-analytics deployment, absent from the reference (its events
are LOBSTER messages) but first-class for an engine that claims the
clickstream/training-telemetry use case at 100 TB.

Both are built on exact integer microsecond timestamps (micros()), so
every step boundary and day offset is deterministic in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros
from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    with_scalars,
)
from dissertation_iceberg_spark.operators.regression import (
    moment_sums,
    scaled_comoment,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import r6, round_long

# --------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase (first-touch sequencing)
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM e
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.us >= s1.t1
  GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.us >= s2.t2
  GROUP BY 1),
n AS (
  SELECT (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2,
         (SELECT count(*) FROM s3) AS n3)
SELECT CAST(1 AS BIGINT) AS step, '{_FUNNEL_STEPS[0]}' AS step_name,
       CAST(n1 AS BIGINT) AS n_users,
       round(1.0, 6) AS conv_from_prev,
       round(1.0, 6) AS conv_from_first
FROM n
UNION ALL
SELECT CAST(2 AS BIGINT), '{_FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
       round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END, 6),
       round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END, 6)
FROM n
UNION ALL
SELECT CAST(3 AS BIGINT), '{_FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
       round(CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END, 6),
       round(CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END, 6)
FROM n
"""


@register("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts at
    step k only with a step-k event at-or-after their first step-(k-1)
    conversion time — first-touch sequencing, the standard product
    funnel semantics (not mere per-type existence).

    Scale shape: each step is one filtered aggregate joined to the
    previous step's O(users) frame ON user_id — every join and groupBy
    shares the user_id key, so after the first exchange the chain is
    co-partitioned (no re-shuffles; Catalyst reuses the partitioning),
    and the final counts are three 1-row aggregates. No windows over
    the raw stream, no collect_list of per-user event arrays (whose
    skew a power user would dominate at 100 TB)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", micros("ts").alias("us")
    )
    s1 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(F.col("us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    n = n1.transform(with_scalars, n2).transform(with_scalars, n3)
    one = F.round(F.lit(1.0), 6)
    rows = [
        n.select(
            F.lit(1).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[0]).alias("step_name"),
            F.col("n1").cast("long").alias("n_users"),
            one.alias("conv_from_prev"),
            one.alias("conv_from_first"),
        ),
        # empty upstream steps (round-7 one-type probe: a stream with
        # no step-1/2 events) make the ratios undefined -> NULL on
        # both engines instead of an ANSI divide-by-zero
        n.select(
            F.lit(2).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[1]).alias("step_name"),
            F.col("n2").cast("long").alias("n_users"),
            F.round(
                F.when(F.col("n1") > 0, F.col("n2").cast("double") / F.col("n1")),
                6,
            ).alias("conv_from_prev"),
            F.round(
                F.when(F.col("n1") > 0, F.col("n2").cast("double") / F.col("n1")),
                6,
            ).alias("conv_from_first"),
        ),
        n.select(
            F.lit(3).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[2]).alias("step_name"),
            F.col("n3").cast("long").alias("n_users"),
            F.round(
                F.when(F.col("n2") > 0, F.col("n3").cast("double") / F.col("n2")),
                6,
            ).alias("conv_from_prev"),
            F.round(
                F.when(F.col("n1") > 0, F.col("n3").cast("double") / F.col("n1")),
                6,
            ).alias("conv_from_first"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Cohort retention: first-seen-day cohorts x day offset
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
sizes AS (
  SELECT cohort_day, count(*) AS n_cohort FROM cohort GROUP BY 1)
SELECT c.cohort_day,
       CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
       count(*) AS n_active,
       round(CAST(count(*) AS DOUBLE) / any_value(s.n_cohort), 6) AS retention
FROM act a
JOIN cohort c ON a.user_id = c.user_id
JOIN sizes s ON c.cohort_day = s.cohort_day
GROUP BY 1, 2
"""


@register("cohort_retention", oracle=_COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first active day,
    activity counted per (cohort_day, day offset), retention = active
    fraction of the cohort.

    Scale shape: one distinct over (user, day) — the raw-stream
    reduction, map-side combinable; one O(users) min-aggregate (same
    user_id key, co-partitioned); cohort sizes are an O(days) frame
    joined BROADCAST (days is bounded — ~365/year — no matter how many
    users); final aggregate keys are (day, offset) — also bounded.
    The only O(users)-keyed shuffle happens once."""
    e = load_table(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        act.join(cohort, "user_id")
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.any_value(F.col("n_cohort")), 6
            ).alias("retention"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket affinity: co-purchased part pairs with lift
# --------------------------------------------------------------------------

_AFFINITY_TOPK = 25

# Registered default for the pair-expansion family: a cap high enough
# to be a no-op on sane order data (TPC-H max ~7 distinct parts per
# order; driver fixture max 13) but finite, so the plan the driver
# runs is the 100 TB-safe one — a single pathological mega-basket can
# no longer go quadratic. Pass max_basket_size=None for the uncapped
# form (VERDICT r4 item 3).
_DEFAULT_MAX_BASKET = 256


def _capped_baskets(assoc: DataFrame, max_basket_size: int | None) -> DataFrame:
    """Drop whole baskets larger than ``max_basket_size`` distinct
    items — the mega-basket skew guard for the pair-expansion family
    (copurchase_lift, item_cf_topk), mirroring the Jaccard
    stop-shingle cap (operators/dedup.py max_shingle_freq).

    Pair volume is sum-of-squares of basket sizes; one hot key at
    100 TB is quadratic. Capped semantics are FILTERED-UNIVERSE, like
    capped Jaccard: the dropped baskets vanish from the pair counts,
    the marginals, AND the order-count denominator, so lift/cosine
    stay internally consistent (mixing capped pair counts with
    uncapped marginals would silently deflate every score touching a
    mega basket). The size count is a window partitioned by
    l_orderkey — same key the pair self-join shuffles on, no new skew
    axis, never a global window."""
    if max_basket_size is None:
        return assoc
    wb = Window.partitionBy("l_orderkey")
    return (
        assoc.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bsz") <= max_basket_size)
        .drop("__bsz")
    )

def _basket_universe(
    li: DataFrame, max_basket_size: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Shared builder for the pair-expansion family: the capped
    distinct (order, part) universe plus the raw projection that
    upper-bounds its pair volume for shuffle sizing.

    Round-8 shape (guide §2.4): the capped path pre-repartitions by
    ``l_orderkey`` so the distinct aggregation (clustering on
    (l_orderkey, l_partkey) — satisfied by the orderkey hash) and the
    basket-size cap window (partitioned by l_orderkey) both ride that
    ONE exchange instead of shuffling twice. The uncapped path has no
    window, so the plain distinct stays."""
    raw = li.select("l_orderkey", "l_partkey")
    if max_basket_size is None:
        return raw.distinct(), raw
    pre = raw.repartition(
        li.sparkSession.sparkContext.defaultParallelism, "l_orderkey"
    )
    return _capped_baskets(pre.distinct(), max_basket_size), raw


def _marginal_pair_counts(
    assoc: DataFrame,
    bound_src: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Shared pair-expansion core for the market-basket family
    (copurchase_lift, item_cf_topk): co-occurrence counts per
    unordered part pair with BOTH marginals already attached.

    Two scale properties the naive shape lacks:

    1. **Marginals attach BEFORE expansion** — n_part joins onto the
       O(rows) assoc frame, so the pair frame is born carrying n_a /
       n_b as grouping keys (functionally dependent on part_a /
       part_b) and no O(pairs) join ever runs. The naive plan joins
       marginals onto the pair frame TWICE — two SortMergeJoin sorts
       of the largest frame in the query.
    2. **The expansion shuffle is self-sized** from the exact
       candidate volume sum(basket^2) via
       :func:`...functions.partitioning.pair_expansion_partitions`
       (one cheap pre-agg job), because AQE cannot pre-size a sort
       that dies before any reducer runs. Both join inputs derive
       from ONE repartition-by-basket-key exchange (the projection
       rename keeps the partitioning, so the join adds no exchange
       and the second scan reuses the first's shuffle).

    Returns (pairs, n_shuffle) so callers can reuse the derived
    partition count for their own pair-frame-sized shuffles (e.g.
    item_cf's per-item rank window). ``bound_src`` (the raw
    pre-distinct projection from :func:`_basket_universe`) lets the
    sizing pre-agg skip the full distinct+window derivation when a
    cheap raw-count upper bound already fits the session default —
    see ``pair_expansion_partitions``."""
    from dissertation_iceberg_spark.functions.partitioning import (
        pair_expansion_partitions,
    )

    n_shuffle = pair_expansion_partitions(
        assoc, "l_orderkey", bound_src=bound_src
    )
    marg = assoc.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    enriched = assoc.join(marg, "l_partkey").repartition(
        n_shuffle, "l_orderkey"
    )
    a = enriched.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_a"),
        F.col("n_part").alias("n_a"),
    )
    b = enriched.select(
        F.col("l_orderkey").alias("o2"),
        F.col("l_partkey").alias("part_b"),
        F.col("n_part").alias("n_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return pairs, n_shuffle


_AFFINITY_ORACLE = f"""
WITH assoc0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
assoc AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM assoc0)
  WHERE bsz <= {_DEFAULT_MAX_BASKET}),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM assoc),
marg AS (
  SELECT l_partkey, count(*) AS n_part FROM assoc GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT p.part_a, p.part_b, p.n_both,
       ma.n_part AS n_a, mb.n_part AS n_b,
       round(CAST(p.n_both AS DOUBLE) * n.n_orders / ma.n_part / mb.n_part, 6)
         AS lift
FROM pairs p
JOIN marg ma ON p.part_a = ma.l_partkey
JOIN marg mb ON p.part_b = mb.l_partkey
CROSS JOIN n
ORDER BY n_both DESC, part_a, part_b
LIMIT {_AFFINITY_TOPK}
"""


@register("copurchase_lift", oracle=_AFFINITY_ORACLE)
def copurchase_lift(
    spark: SparkSession,
    sf_dir: str,
    max_basket_size: int | None = _DEFAULT_MAX_BASKET,
) -> DataFrame:
    """Market-basket affinity: the most co-purchased part pairs with
    their lift (observed co-rate over the independence baseline) — the
    'frequently bought together' primitive, and the edge-weight build
    for the co-occurrence graph family (PageRank, clustering).

    Scale shape: distinct (order, part) collapses first (map-side
    combinable), then the pair expansion is a SELF equi-join on
    l_orderkey — pairs per order are C(k,2) in that order's distinct
    parts, so volume is sum-of-squares of basket sizes, linear for
    bounded baskets (fixture max 13); a pathological mega-basket is
    the skew axis, capped by the REGISTERED default
    ``max_basket_size`` (_capped_baskets: whole over-cap baskets
    leave the universe — pair counts, marginals AND the order-count
    denominator — before expansion; pass None for the uncapped form).
    The expansion rides :func:`_marginal_pair_counts`: marginals
    attached pre-expansion (no O(pairs) join) and the shuffle
    self-sized from sum(basket^2); the 1-row order count injects as a
    scalar subquery; final top-k is TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    assoc, raw = _basket_universe(li, max_basket_size)
    n = assoc.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pairs, _ = _marginal_pair_counts(assoc, bound_src=raw)
    return (
        pairs.transform(with_scalars, n)
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / F.col("n_a")
                / F.col("n_b"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.asc("part_a"), F.asc("part_b"))
        .limit(_AFFINITY_TOPK)
    )


# --------------------------------------------------------------------------
# Windowed funnel: each stage must land within a bounded gap
# --------------------------------------------------------------------------

_WFUNNEL_GAP_US = 86_400_000_000  # 24 hours between consecutive stages

_WFUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM e
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND e.us >= s1.t1 AND e.us - s1.t1 <= {_WFUNNEL_GAP_US}
  GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND e.us >= s2.t2 AND e.us - s2.t2 <= {_WFUNNEL_GAP_US}
  GROUP BY 1),
n AS (
  SELECT (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2,
         (SELECT count(*) FROM s3) AS n3)
SELECT CAST(1 AS BIGINT) AS step, '{_FUNNEL_STEPS[0]}' AS step_name,
       CAST(n1 AS BIGINT) AS n_users, round(1.0, 6) AS conv_from_prev
FROM n
UNION ALL
SELECT CAST(2 AS BIGINT), '{_FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
       round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END, 6)
FROM n
UNION ALL
SELECT CAST(3 AS BIGINT), '{_FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
       round(CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END, 6)
FROM n
"""


@register("windowed_funnel", oracle=_WFUNNEL_ORACLE)
def windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel: like funnel_conversion, but each stage must
    occur within 24 h of the previous stage's conversion time — the
    attribution-grade variant (an unbounded funnel credits a purchase
    to a view from months earlier; real funnels expire).

    Scale shape identical to funnel_conversion — user_id-keyed
    filtered aggregates chained on a co-partitioned join key, final
    counts are 1-row aggregates; the gap bound is a per-row predicate
    on exact integer microseconds, free at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", micros("ts").alias("us")
    )
    s1 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(
            (F.col("us") >= F.col("t1"))
            & (F.col("us") - F.col("t1") <= _WFUNNEL_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(
            (F.col("us") >= F.col("t2"))
            & (F.col("us") - F.col("t2") <= _WFUNNEL_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    n = (
        s1.agg(F.count(F.lit(1)).alias("n1"))
        .transform(with_scalars, s2.agg(F.count(F.lit(1)).alias("n2")))
        .transform(with_scalars, s3.agg(F.count(F.lit(1)).alias("n3")))
    )
    rows = [
        n.select(
            F.lit(1).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[0]).alias("step_name"),
            F.col("n1").cast("long").alias("n_users"),
            F.round(F.lit(1.0), 6).alias("conv_from_prev"),
        ),
        # empty upstream steps -> NULL ratios (round-7 one-type probe)
        n.select(
            F.lit(2).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[1]).alias("step_name"),
            F.col("n2").cast("long").alias("n_users"),
            F.round(
                F.when(F.col("n1") > 0, F.col("n2").cast("double") / F.col("n1")),
                6,
            ).alias("conv_from_prev"),
        ),
        n.select(
            F.lit(3).cast("long").alias("step"),
            F.lit(_FUNNEL_STEPS[2]).alias("step_name"),
            F.col("n3").cast("long").alias("n_users"),
            F.round(
                F.when(F.col("n2") > 0, F.col("n3").cast("double") / F.col("n2")),
                6,
            ).alias("conv_from_prev"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Markov next-event transition matrix
# --------------------------------------------------------------------------

_TRANS_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY us, event_id) AS from_type,
         event_type AS to_type
  FROM e),
cnt AS (
  SELECT from_type, to_type, count(*) AS n_trans
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_trans,
       round(CAST(n_trans AS DOUBLE)
             / sum(n_trans) OVER (PARTITION BY from_type), 6) AS p_next
FROM cnt
"""


@register("event_transitions", oracle=_TRANS_ORACLE)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    per-user adjacent event-type pairs (ordered by exact microsecond
    timestamp with event_id as the deterministic tiebreak), counted
    and normalized into next-event probabilities — the path-analysis
    primitive behind 'what do users do after an error?'.

    Scale shape: ONE shuffle on user_id for the lag window (linear per
    partition), then the pair counts collapse to at most
    |event_types|^2 keys — map-side combinable to a bounded state, and
    the normalizing window runs over that tiny frame, never the raw
    stream. Survives any user-count scale; a single hot user is the
    only skew axis and bounds at that user's event count."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    norm = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(norm), 6
        ).alias("p_next"),
    )


# --------------------------------------------------------------------------
# Last-touch revenue attribution (tolerance-bounded as-of)
# --------------------------------------------------------------------------

_ATTR_TOL_US = 1_800_000_000  # 30 minutes

_ATTR_ORACLE = f"""
WITH t AS (
  SELECT user_id, us, max_by(touch_type, event_id) AS touch_type
  FROM (
    SELECT user_id, epoch_us(ts) AS us, event_type AS touch_type, event_id
    FROM events WHERE event_type IN ('click', 'view'))
  GROUP BY 1, 2),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT p.cents,
         CASE WHEN t.us IS NOT NULL AND p.us - t.us <= {_ATTR_TOL_US}
              THEN t.touch_type ELSE 'unattributed' END AS touch
  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.us >= t.us)
SELECT touch,
       count(*) AS n_purchases,
       CAST(sum(cents) AS DOUBLE) / 100 AS revenue
FROM j GROUP BY 1
"""


@register("lasttouch_attribution", oracle=_ATTR_ORACLE)
def lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the most
    recent click/view by the same user within a 30-minute lookback;
    purchases with no in-window touch are 'unattributed'. The
    marketing-analytics cousin of the J1 as-of machinery, oracle-checked
    against DuckDB's native ASOF JOIN + tolerance predicate.

    Spark-side: the proven union+window formulation (one shuffle on
    user_id, running last_value with ignorenulls — never a range join,
    which would plan BroadcastNestedLoop). Touches are first deduped to
    one per (user_id, us) with a deterministic max_by(event_id) winner
    in BOTH engines — same tie discipline as asof_enrich. Revenue is
    integer cents until the final division."""
    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    cents = round_long(F.col("value") * 100)
    touches = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", us.alias("us"))
        .agg(F.max_by(F.col("event_type"), F.col("event_id")).alias("touch_type"))
        .select(
            "user_id",
            "us",
            F.lit(0).alias("tag"),
            F.col("us").alias("touch_us"),
            "touch_type",
            F.lit(None).cast("long").alias("cents"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("us"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("touch_us"),
        F.lit(None).cast("string").alias("touch_type"),
        cents.alias("cents"),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("us", "tag")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tagged = touches.unionByName(purchases).select(
        "user_id",
        "us",
        "tag",
        "cents",
        F.last("touch_us", ignorenulls=True).over(w).alias("lt_us"),
        F.last("touch_type", ignorenulls=True).over(w).alias("lt_type"),
    )
    attributed = tagged.filter(F.col("tag") == 1).select(
        "cents",
        F.when(
            F.col("lt_us").isNotNull()
            & ((F.col("us") - F.col("lt_us")) <= _ATTR_TOL_US),
            F.col("lt_type"),
        )
        .otherwise(F.lit("unattributed"))
        .alias("touch"),
    )
    return attributed.groupBy("touch").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
    )


# --------------------------------------------------------------------------
# Position-based multi-touch attribution (40/20/40 inside a lookback)
# --------------------------------------------------------------------------

_MT_TOL_US = 1_800_000_000  # 30-minute lookback, same horizon as last-touch
_MT_BIN_US = 1_800_000_000  # bucket width >= lookback => <=2 bins/purchase

_MT_ORACLE = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT event_id AS t_id, user_id, epoch_us(ts) AS t_us,
         event_type AS touch_type
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT p.p_id, t.t_id, t.t_us, t.touch_type
  FROM p JOIN t
    ON p.user_id = t.user_id
   AND t.t_us <= p.p_us AND t.t_us >= p.p_us - {_MT_TOL_US}),
r AS (
  SELECT *, row_number() OVER w AS rn, count(*) OVER (PARTITION BY p_id) AS n
  FROM j WINDOW w AS (PARTITION BY p_id ORDER BY t_us, t_id)),
credit AS (
  SELECT touch_type,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN rn = 1 OR rn = n THEN 400000
              ELSE CAST(round(200000.0 / (n - 2)) AS BIGINT)
         END AS c
  FROM r)
SELECT touch_type,
       count(*) AS n_touches,
       CAST(sum(c) AS BIGINT) AS credit_micro
FROM credit GROUP BY 1
"""


@register("position_attribution", oracle=_MT_ORACLE)
def position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    click/view in the 30-minute lookback before a purchase shares the
    credit — 40% first touch, 40% last, 20% split across the middles
    (100% / 50-50 for 1- and 2-touch paths). Credits are exact
    integer micro-units; the only division (the middle split) is one
    identically-rounded op per row, so per-type totals are exact
    integer sums.

    Scale shape: the purchase-x-touch pairing is the bucketed range
    join (post_purchase_errors pattern) — both sides bucket by a bin
    no smaller than the lookback, purchases explode to their <=2 bins,
    equi-join on (user_id, bin) with BETWEEN residual — never a
    nested loop (plan-asserted). Ranking partitions by purchase id:
    per-partition row counts are bounded by touches-per-lookback, the
    natural skew axis a production run would cap per user."""
    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        us.alias("p_us"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        us.alias("t_us"),
        F.col("event_type").alias("touch_type"),
    )
    bin_of = lambda c: F.floor(c / F.lit(_MT_BIN_US))  # noqa: E731
    p_bins = p.select(
        "p_id",
        "user_id",
        "p_us",
        F.explode(
            F.sequence(bin_of(F.col("p_us") - _MT_TOL_US), bin_of(F.col("p_us")))
        ).alias("bin"),
    )
    tb = t.withColumn("bin", bin_of(F.col("t_us")))
    j = p_bins.join(
        tb,
        (F.col("user_id") == F.col("t_user"))
        & (p_bins["bin"] == tb["bin"])
        & (F.col("t_us") <= F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - _MT_TOL_US),
    ).select("p_id", "t_id", "t_us", "touch_type")
    from pyspark.sql import Window as W

    rw = W.partitionBy("p_id").orderBy("t_us", "t_id")
    nw = W.partitionBy("p_id")
    r = j.select(
        "touch_type",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    c = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(400_000))
        .otherwise(round_long(F.lit(200000.0) / (F.col("n") - 2)))
    )
    return (
        r.select("touch_type", c.alias("c"))
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("c").cast("long").alias("credit_micro"),
        )
    )


# --------------------------------------------------------------------------
# Robust anomaly detection: MAD flags on daily event counts
# --------------------------------------------------------------------------

_MAD_K = 3  # flag |x - median| > K * MAD

_MAD_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY c, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily),
med AS (
  SELECT event_type, c AS med, n
  FROM r WHERE rn = (n + 1) // 2),
dev AS (
  SELECT d.event_type, d.day, d.c, m.med, m.n, abs(d.c - m.med) AS ad
  FROM daily d JOIN med m ON d.event_type = m.event_type),
rd AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ad, day) AS rn
  FROM dev),
mad AS (
  SELECT event_type, ad AS mad FROM rd WHERE rn = (n + 1) // 2)
SELECT d.event_type,
       CAST(any_value(d.med) AS BIGINT) AS median_count,
       CAST(any_value(m.mad) AS BIGINT) AS mad,
       count(*) AS n_days,
       CAST(sum(CASE WHEN d.ad > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalous_days,
       CAST(max(d.ad) AS BIGINT) AS max_abs_dev
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1
"""


@register("daily_anomaly_mad", oracle=_MAD_ORACLE)
def daily_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on daily event volumes: per event
    type, the median daily count, the median absolute deviation, and
    the days flagged at |count - median| > {k}x MAD — the
    outlier-immune volume monitor a pipeline alerts on (a z-score
    monitor is blown up by the very spike it should flag; the MAD
    breaks down only past 50% contamination).

    Everything is exact integer order statistics: the median is the
    lower median (order statistic at (n+1)/2 with day as tiebreak), so
    there is no interpolation, no float, and both engines pick the
    identical element. Scale shape: the raw stream reduces to
    (type, day) counts in one map-side-combinable pass; every window
    after that runs on the O(types x days) frame — bounded state at
    any event volume (the documented already-aggregated-frame window
    class).""".format(k=_MAD_K)
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    tw = W.partitionBy("event_type")
    rw = W.partitionBy("event_type").orderBy("c", "day")
    r = daily.select(
        "*",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(tw).alias("n"),
    )
    # integer lower-median rank: (n + 1) // 2
    med = r.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "event_type", F.col("c").alias("med"), "n"
    )
    dev = daily.join(med, "event_type").select(
        "event_type",
        "day",
        "c",
        "med",
        "n",
        F.abs(F.col("c") - F.col("med")).alias("ad"),
    )
    dw = W.partitionBy("event_type").orderBy("ad", "day")
    mad = (
        dev.select("*", F.row_number().over(dw).alias("rn"))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("ad").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").cast("long").alias("median_count"),
            F.any_value("mad").cast("long").alias("mad"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum((F.col("ad") > _MAD_K * F.col("mad")).cast("int"))
            .cast("long")
            .alias("n_anomalous_days"),
            F.max("ad").cast("long").alias("max_abs_dev"),
        )
    )


# --------------------------------------------------------------------------
# Time-decay attribution: exponential credit over the purchase lookback
# --------------------------------------------------------------------------

_TD_TAU_US = 600_000_000  # 10-minute decay constant

_TDECAY_ORACLE = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT event_id AS t_id, user_id, epoch_us(ts) AS t_us,
         event_type AS touch_type
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT t.touch_type,
         CAST(round(exp(-(CAST(p.p_us - t.t_us AS DOUBLE) / {_TD_TAU_US}))
                    * 1e6) AS BIGINT) AS w
  FROM p JOIN t
    ON p.user_id = t.user_id
   AND t.t_us <= p.p_us AND t.t_us >= p.p_us - {_MT_TOL_US}),
agg AS (
  SELECT touch_type, count(*) AS n_touches,
         CAST(sum(w) AS BIGINT) AS decay_credit_micro
  FROM j GROUP BY 1),
tot AS (SELECT CAST(sum(decay_credit_micro) AS BIGINT) AS total FROM agg)
SELECT a.touch_type, a.n_touches, a.decay_credit_micro,
       round(CAST(a.decay_credit_micro AS DOUBLE) / t.total, 6) AS credit_share
FROM agg a, tot t
"""


@register("timedecay_attribution", oracle=_TDECAY_ORACLE)
def timedecay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every touch in the
    30-minute lookback earns exp(-age/tau) credit (tau = 10 min) —
    the recency-weighted sibling of position_attribution (U-shape)
    and lasttouch_attribution (winner-take-all), completing the three
    standard attribution kernels.

    Parity: the decay weight is micro-rounded ONCE per touch from an
    exactly-agreed double (integer age / integer tau), so per-type
    credit totals are exact integer sums; only the display share
    divides, against a scalar-subquery total of exact integers. Scale
    shape: the same bucketed range join as the U-shape query (<=2
    bins per purchase, equi-join on (user, bin) with BETWEEN
    residual, never a nested loop), but NO per-purchase window at all
    — the credit is per-pair, so the whole thing is join +
    map-side-combinable aggregate."""
    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us")
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        us.alias("t_us"),
        F.col("event_type").alias("touch_type"),
    )
    bin_of = lambda c: F.floor(c / F.lit(_MT_BIN_US))  # noqa: E731
    p_bins = p.select(
        "user_id",
        "p_us",
        F.explode(
            F.sequence(bin_of(F.col("p_us") - _MT_TOL_US), bin_of(F.col("p_us")))
        ).alias("bin"),
    )
    tb = t.withColumn("bin", bin_of(F.col("t_us")))
    w = round_long(
        F.exp(-((F.col("p_us") - F.col("t_us")).cast("double") / _TD_TAU_US))
        * 1e6
    )
    agg = (
        p_bins.join(
            tb,
            (F.col("user_id") == F.col("t_user"))
            & (p_bins["bin"] == tb["bin"])
            & (F.col("t_us") <= F.col("p_us"))
            & (F.col("t_us") >= F.col("p_us") - _MT_TOL_US),
        )
        .select("touch_type", w.alias("w"))
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("w").cast("long").alias("decay_credit_micro"),
        )
    )
    tot = agg.agg(F.sum("decay_credit_micro").cast("long").alias("total"))
    return agg.transform(with_scalars, tot).select(
        "touch_type",
        "n_touches",
        "decay_credit_micro",
        F.round(
            F.col("decay_credit_micro").cast("double") / F.col("total"), 6
        ).alias("credit_share"),
    )


# --------------------------------------------------------------------------
# RFM scoring: recency/frequency/monetary quintiles per purchasing user
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
  SELECT user_id,
         max(epoch_us(ts)) AS last_us,
         count(*) AS n_purchases,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT user_id, last_us, n_purchases, cents,
       ntile(5) OVER (ORDER BY last_us, user_id) AS r_score,
       ntile(5) OVER (ORDER BY n_purchases, user_id) AS f_score,
       ntile(5) OVER (ORDER BY cents, user_id) AS m_score,
       ntile(5) OVER (ORDER BY last_us, user_id) * 100
       + ntile(5) OVER (ORDER BY n_purchases, user_id) * 10
       + ntile(5) OVER (ORDER BY cents, user_id) AS rfm
FROM base
"""


@register("rfm_scores", oracle=_RFM_ORACLE)
def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: recency / frequency / monetary quintiles
    (5 = most recent / most frequent / highest spend) plus the
    combined 111-555 segment code — the standard behavioral
    segmentation readout over the purchase log.

    Determinism: every metric is an exact integer and each ntile
    orders by (metric, user_id), so bucket boundaries cannot drift
    between engines. Scale shape: the per-user rollup is one
    fact-scale map-side-combinable aggregate; the three quintiles are
    then ONE bucketed two-pass rank (functions/ranks.py) over the
    metrics UNPIVOTED to a 3n-row (user, metric-kind, value) frame
    with group_cols=[metric-kind] — each kind gets its own bucket
    bounds and its own independent rank in a single fused pass —
    followed by NTILE arithmetic (ntile_from_rank, user count as a
    scalar subquery) and a pivot-back aggregate. NO unpartitioned
    window ever touches the O(users) frame, and versus three
    sequential bucketed_row_number calls (round 4) the fused pass
    removes two full rank-stage shuffle chains AND the nested lineage
    recomputation each chained call paid (the round-4 verdict's
    fuse-rfm item)."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_row_number,
        ntile_from_rank,
    )

    e = load_table(spark, sf_dir, "events")
    base = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(round_long(F.col("value") * 100))
            .cast("long")
            .alias("cents"),
        )
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n_users")).scalar()
    stacked = base.select(
        "user_id",
        F.expr(
            "stack(3, 'r', last_us, 'f', n_purchases, 'm', cents)"
            " AS (mk, val)"
        ),
    )
    ranked = bucketed_row_number(
        stacked, ["val", "user_id"], out_col="__rk", group_cols=["mk"]
    )
    score = ntile_from_rank(F.col("__rk"), n, 5)

    def _pick(kind: str, col: str) -> Column:
        return F.max(F.when(F.col("mk") == kind, F.col(col)))

    wide = (
        ranked.withColumn("__s", score)
        .groupBy("user_id")
        .agg(
            _pick("r", "val").alias("last_us"),
            _pick("f", "val").alias("n_purchases"),
            _pick("m", "val").alias("cents"),
            _pick("r", "__s").alias("r_score"),
            _pick("f", "__s").alias("f_score"),
            _pick("m", "__s").alias("m_score"),
        )
    )
    return wide.select(
        "user_id",
        "last_us",
        "n_purchases",
        "cents",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm"),
    )


# --------------------------------------------------------------------------
# Cumulative unique users per day (growth accounting)
# --------------------------------------------------------------------------

_CUM_UNIQ_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day
  FROM events GROUP BY 1),
daily AS (
  SELECT first_day AS day, count(*) AS n_new FROM first_seen GROUP BY 1)
SELECT day, n_new,
       CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_unique_users
FROM daily
"""


@register("cumulative_unique_users", oracle=_CUM_UNIQ_ORACLE)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: new users per day and the cumulative unique
    count — the classic "distinct users to date" series that a naive
    plan computes as one count(DISTINCT) PER DAY over an ever-growing
    prefix (quadratic re-scans). The right shape: distinct collapses
    to min(first_day) per user ONCE, then a daily count and one
    cumulative sum over the O(days) frame.

    Scale: one fact-scale map-side-combinable min per user, one
    O(users) -> O(days) rollup, one bounded window. The quadratic
    prefix-scan family never appears."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    from pyspark.sql import Window as W

    cw = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_new",
        F.sum("n_new").over(cw).cast("long").alias("cum_unique_users"),
    )


# --------------------------------------------------------------------------
# Calibration bins (reliability diagram) for a deterministic propensity
# --------------------------------------------------------------------------

_CAL_SPLIT = "2024-01-16 00:00:00"
_CAL_BINS = 10


def _holdout_scores(e: DataFrame, value_floor: int | None = None) -> DataFrame:
    """The holdout propensity frame (user_id, s_micro, y) the
    calibration and uplift evals grade: each user active before
    ``_CAL_SPLIT`` scores the exact integer micro-fraction
    s_micro = (n_purchases * 1e6) div n_events over their pre-split
    events; y = 1 when they purchase after the split (above
    ``value_floor`` dollars when one is given), else 0."""
    split = F.lit(_CAL_SPLIT).cast("timestamp_ntz")
    hist = (
        e.filter(F.col("ts") < split)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_p"
            ),
        )
    )
    bought = (F.col("ts") >= split) & (F.col("event_type") == "purchase")
    if value_floor is not None:
        bought = bought & (F.col("value") > value_floor)
    fut = e.filter(bought).select("user_id").distinct().withColumn("y", F.lit(1))
    return hist.join(fut, "user_id", "left").select(
        "user_id",
        F.expr("(n_p * 1000000) div n_ev").alias("s_micro"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )


_CALIBRATION_ORACLE = f"""
WITH hist AS (
  SELECT user_id,
         count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'),
scored AS (
  SELECT h.user_id,
         (h.n_p * 1000000) // h.n_ev AS s_micro,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id)
SELECT least(s_micro // {1_000_000 // _CAL_BINS}, {_CAL_BINS - 1}) AS bin,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(s_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_predicted,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS observed_rate
FROM scored GROUP BY 1
"""


@register("calibration_bins", oracle=_CALIBRATION_ORACLE)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration bins) for a propensity score:
    score every user by their FIRST-half purchase fraction, observe
    whether they purchase in the SECOND half, and compare mean
    predicted vs observed rate per score decile — the standard
    model-calibration readout (points on the diagonal = calibrated),
    here over a deterministic baseline propensity so the whole eval
    is oracle-checkable end to end. The same shape grades any real
    model's scores at 100 TB: scores and outcomes are both columns;
    the eval is one aggregation.

    Determinism: the score is the exact integer micro-fraction
    (n_purchases * 1e6) div n_events — never a float ratio that two
    engines could bucket differently at a decile edge; bins are
    integer floor-division with a top-edge clamp; the two display
    divisions per bin divide identical exact integers.

    Scale shape: one grouped count over the history window, one
    distinct-semi over the future window, one broadcast-size LEFT
    join on user, one {b}-group aggregation. Temporal split pushes
    down to the scan as a timestamp predicate.""".format(b=_CAL_BINS)
    scored = _holdout_scores(load_table(spark, sf_dir, "events"))
    return (
        scored.select(
            F.expr(
                f"least(s_micro div {1_000_000 // _CAL_BINS}, {_CAL_BINS - 1})"
            ).alias("bin"),
            "s_micro",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(
                F.sum("s_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("mean_predicted"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "observed_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Rolling 7-day active users (sliding DISTINCT) via interval deltas
# --------------------------------------------------------------------------

_WAU_DAYS = 7

_WAU_ORACLE = f"""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
spine AS (
  SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
  FROM act),
wau AS (
  SELECT s.day, count(DISTINCT a.user_id) AS wau
  FROM spine s JOIN act a
    ON a.day <= s.day AND a.day > s.day - INTERVAL {_WAU_DAYS} DAY
  GROUP BY 1),
dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1)
SELECT s.day,
       CAST(coalesce(d.dau, 0) AS BIGINT) AS dau,
       CAST(coalesce(w.wau, 0) AS BIGINT) AS wau,
       round(CAST(coalesce(d.dau, 0) AS DOUBLE)
             / nullif(coalesce(w.wau, 0), 0), 6) AS stickiness
FROM spine s
LEFT JOIN dau d ON s.day = d.day
LEFT JOIN wau w ON s.day = w.day
"""


@register("rolling_wau", oracle=_WAU_ORACLE)
def rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (the WAU curve) + DAU and
    the DAU/WAU stickiness ratio — the growth-team staple that is
    secretly a SLIDING COUNT DISTINCT, which naive plans compute by
    re-scanning a 7-day window per day (quadratic re-reads, or a
    distinct inside a window frame Spark doesn't even support). The
    scalable identity: a user is active in the window ending at day w
    iff w falls in the union of intervals [d, d+6] over their
    activity days — so merge each user's intervals (segment starts
    where the gap to the previous activity day >= 7), emit +1 at each
    merged start and -1 after its end, and one cumulative sum over
    the O(days) delta spine yields every day's WAU simultaneously.
    The fact table is scanned ONCE.

    Determinism: all integer counts; the only division is the final
    display ratio of two exact integers. Per-user windows order by
    activity day (distinct per user, so unique — no tie to break).

    Scale shape: user-day dedup (map-side combinable) → per-user lag
    over tiny frames (bounded by the user's distinct days) → segment
    min/max agg → O(days) delta rollup + one cumulative window over
    the day spine (30–365 rows at any SF). The oracle is the honest
    quadratic day×activity join."""
    e = load_table(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    uw = Window.partitionBy("user_id").orderBy("day")
    seg = (
        act.withColumn("prev", F.lag("day").over(uw))
        .withColumn(
            "is_start",
            (
                F.col("prev").isNull()
                | (F.datediff("day", "prev") >= _WAU_DAYS)
            ).cast("int"),
        )
        .withColumn(
            "seg_id",
            F.sum("is_start").over(
                uw.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "seg_id")
        .agg(
            F.min("day").alias("seg_start"),
            F.date_add(F.max("day").cast("date"), _WAU_DAYS).alias("seg_after"),
        )
    )
    deltas = seg.select(
        F.col("seg_start").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        seg.select(
            F.col("seg_after").cast("timestamp").alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    dsum = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    bounds = act.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.col("lo").cast("date"),
                F.col("hi").cast("date"),
            )
        ).alias("d")
    ).select(F.col("d").cast("timestamp").alias("day"))
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    merged = (
        spine.join(dsum, "day", "left")
        .select("day", F.coalesce("delta", F.lit(0)).alias("delta"))
        .withColumn("wau", F.sum("delta").over(cum))
        .join(dau, "day", "left")
    )
    return merged.select(
        "day",
        F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.round(
            F.coalesce("dau", F.lit(0)).cast("double")
            / F.nullif(F.col("wau").cast("long"), F.lit(0)),
            6,
        ).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# Signup -> first-purchase conversion latency quantiles (exact, bucketed)
# --------------------------------------------------------------------------

_LAT_QS = (50, 90, 99)  # percent

_LATENCY_ORACLE = f"""
WITH su AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
  WHERE event_type = 'signup' GROUP BY 1),
pu AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
  GROUP BY 1),
lat AS (
  SELECT su.user_id, (pu.p_us - su.s_us) // 1000000 AS lat_s
  FROM su JOIN pu ON su.user_id = pu.user_id),
lv AS (SELECT lat_s, count(*) AS w FROM lat GROUP BY 1),
c AS (
  SELECT *, sum(w) OVER (ORDER BY lat_s) AS cw,
         sum(w) OVER () AS tw
  FROM lv),
q AS ({" UNION ALL ".join(f"SELECT CAST({p} AS BIGINT) AS pct" for p in _LAT_QS)})
SELECT q.pct,
       min(c.lat_s) AS latency_s,
       CAST(max(c.tw) AS BIGINT) AS n_converted
FROM q JOIN c ON c.cw * 100 >= q.pct * c.tw
GROUP BY 1
"""


@register("conversion_latency_quantiles", oracle=_LATENCY_ORACLE)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency percentiles (p50/p90/p99) — the
    activation-speed KPI. Latency = first purchase at-or-after the
    user's first signup, in whole seconds of exact µs arithmetic; the
    percentile is the inclusive-prefix pick (smallest latency whose
    cumulative user count reaches pct% — the integer threshold
    cw*100 >= pct*tw, so no float decides a boundary user).

    Scale shape: two filtered min-aggregations (map-side combinable)
    + one user-keyed equi-join; latencies collapse to O(distinct
    seconds) weighted levels, cumulated by the bucketed two-pass
    machinery (no ordered window over the user frame); the pick is a
    3-row broadcast join. Same family as weighted_median /
    theil_sen_slope."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    e = load_table(spark, sf_dir, "events")
    us = micros(F.col("ts"))
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("s_us"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(su, "user_id")
        .filter(F.col("p_us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"))
    )
    lat = su.join(pu, "user_id").select(
        F.expr("(p_us - s_us) div 1000000").alias("lat_s")
    )
    lv = lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("w"))
    cum = bucketed_exclusive_cumsums(lv, "lat_s", ["w"]).withColumn(
        "cw", F.col("cum_w") + F.col("w")
    )
    tot = lv.agg(F.sum("w").cast("long").alias("tw"))
    qs = None
    for p in _LAT_QS:
        row = tot.select(
            F.lit(p).cast("long").alias("pct"), F.col("tw")
        )
        qs = row if qs is None else qs.unionByName(row)
    return (
        cum.transform(explode_grid, qs).filter(
            F.col("cw") * 100 >= F.col("pct") * F.col("tw")
        )
        .groupBy("pct")
        .agg(
            F.min("lat_s").alias("latency_s"),
            F.max("tw").cast("long").alias("n_converted"),
        )
    )


# --------------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue per signup cohort by age)
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1),
spend AS (
  SELECT f.cohort_day,
    date_diff('day', f.cohort_day, date_trunc('day', e.ts)) // 7 AS age_week,
    CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'),
wk AS (
  SELECT cohort_day, age_week,
    CAST(sum(cents) AS BIGINT) AS week_cents,
    CAST(count(*) AS BIGINT) AS n_purchases
  FROM spend GROUP BY 1, 2),
size_ AS (
  SELECT cohort_day, count(*) AS cohort_users FROM first_seen GROUP BY 1)
SELECT wk.cohort_day, CAST(age_week AS BIGINT) AS age_week,
  CAST(cohort_users AS BIGINT) AS cohort_users,
  n_purchases,
  CAST(sum(week_cents) OVER (PARTITION BY wk.cohort_day ORDER BY age_week)
       AS BIGINT) AS cum_cents,
  round(CAST(sum(week_cents) OVER (PARTITION BY wk.cohort_day
                                   ORDER BY age_week) AS DOUBLE)
        / cohort_users / 100.0, 6) AS ltv_per_user
FROM wk JOIN size_ ON wk.cohort_day = size_.cohort_day
"""


@register("cohort_ltv_curve", oracle=_LTV_ORACLE)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    signup cohort by age week, normalized per cohort member — the
    monetized extension of the retention matrix already in the
    registry (same cohort keying, money instead of presence).

    Scale shape: first-seen is one user-keyed min; spend joins facts
    to it on the user key (bucketable); the weekly rollup is map-side
    combinable and the cumulative window runs per cohort over the
    O(weeks) bounded frame. Revenue rides as integer cents; the only
    division normalizes by cohort size at the end."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first_seen = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.floor(
                F.datediff(day, F.col("cohort_day")) / 7
            ).alias("age_week"),
            round_long(F.col("value") * 100).alias("cents"),
        )
    )
    wk = spend.groupBy("cohort_day", "age_week").agg(
        F.sum("cents").cast("long").alias("week_cents"),
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
    )
    size = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = Window.partitionBy("cohort_day").orderBy("age_week")
    return (
        wk.join(size, "cohort_day")
        .select(
            "cohort_day",
            F.col("age_week").cast("long").alias("age_week"),
            F.col("cohort_users").cast("long").alias("cohort_users"),
            "n_purchases",
            F.sum("week_cents").over(w).cast("long").alias("cum_cents"),
            F.round(
                F.sum("week_cents").over(w).cast("double")
                / F.col("cohort_users")
                / 100.0,
                6,
            ).alias("ltv_per_user"),
        )
    )


# --------------------------------------------------------------------------
# Audience overlap matrix (user-set Jaccard between event types)
# --------------------------------------------------------------------------

_AUDIENCE_ORACLE = """
WITH ut AS (
  SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS both_n
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b,
  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
  CAST(both_n AS BIGINT) AS n_both,
  round(CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n), 6) AS jaccard
FROM inter
JOIN sz sa ON type_a = sa.event_type
JOIN sz sb ON type_b = sb.event_type
"""


@register("audience_overlap", oracle=_AUDIENCE_ORACLE)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: Jaccard similarity of the user sets
    behind each pair of event types — the segment-overlap readout
    behind "should these audiences be one campaign" (and, at corpus
    scale, the same kernel as source-audience dedup).

    Scale shape: the (type, user) incidence dedupes map-side; the
    pair intersection is a user-keyed equi-join with per-user fan-out
    bounded by the event-type count (~5); sizes broadcast back onto
    the O(types²) matrix. All counts exact."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("event_type", "user_id").distinct()
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("both_n"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("both_n").cast("long").alias("n_both"),
            F.round(
                F.col("both_n").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("both_n")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain channel credit)
# --------------------------------------------------------------------------

_MKV_ITERS = 24
_MKV_P1 = 1_000_000  # probability micro-units


def _mkv_iter_sql(k: int) -> str:
    """One unrolled absorption-probability sweep: p{k} from p{k-1}.
    All values nonnegative, so plain integer division is exact-floor
    in both engines."""
    return f"""
p{k} AS MATERIALIZED (
  SELECT trr.removal, trr.src AS state,
         CAST(sum(trr.cnt * p{k - 1}.p) // any_value(trr.outd) AS BIGINT)
           AS p
  FROM trr JOIN p{k - 1}
    ON trr.removal = p{k - 1}.removal AND trr.dst = p{k - 1}.state
  GROUP BY 1, 2
  UNION ALL SELECT removal, '__conv__', CAST({_MKV_P1} AS BIGINT) FROM rml
  UNION ALL SELECT removal, '__null__', CAST(0 AS BIGINT) FROM rml
  UNION ALL SELECT removal, removal, CAST(0 AS BIGINT)
    FROM rml WHERE removal <> '__none__')"""


_MKV_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS seq,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS journey
  FROM events),
seqd AS (
  SELECT user_id, journey, event_type,
         row_number() OVER (PARTITION BY user_id, journey ORDER BY seq)
           AS j_seq,
         CAST(count(*) OVER (PARTITION BY user_id, journey) AS BIGINT)
           AS j_len
  FROM ev),
tr0 AS (
  SELECT CASE WHEN j_seq = 1 THEN '__start__'
              ELSE lag(event_type) OVER (PARTITION BY user_id, journey
                                         ORDER BY j_seq) END AS src,
         CASE WHEN event_type = 'purchase' THEN '__conv__'
              ELSE event_type END AS dst,
         CASE WHEN j_seq = j_len AND event_type <> 'purchase'
              THEN event_type END AS drop_src
  FROM seqd),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM tr0 GROUP BY 1, 2
  UNION ALL
  SELECT drop_src, '__null__', CAST(count(*) AS BIGINT)
  FROM tr0 WHERE drop_src IS NOT NULL GROUP BY 1, 2),
e AS MATERIALIZED (SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM edges GROUP BY 1, 2),
outd AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS outd FROM e GROUP BY 1),
rml AS MATERIALIZED (
  SELECT DISTINCT src AS removal FROM e WHERE src <> '__start__'
  UNION ALL SELECT '__none__'),
trr AS MATERIALIZED (
  SELECT rml.removal, e.src, e.dst, e.cnt, outd.outd
  FROM e CROSS JOIN rml JOIN outd ON e.src = outd.src
  WHERE e.src <> rml.removal),
p0 AS (
  SELECT removal, state, CAST(CASE WHEN state = '__conv__'
                                   THEN {_MKV_P1} ELSE 0 END AS BIGINT) AS p
  FROM rml CROSS JOIN (
    SELECT DISTINCT src AS state FROM e
    UNION SELECT DISTINCT dst FROM e)),
{",".join(_mkv_iter_sql(k) for k in range(1, _MKV_ITERS + 1))},
conv AS (
  SELECT removal, p FROM p{_MKV_ITERS} WHERE state = '__start__'),
base AS (SELECT p AS p_base FROM conv WHERE removal = '__none__'),
eff AS (
  SELECT removal AS channel,
         p AS p_removed_micro,
         CASE WHEN p_base > 0
              THEN greatest(CAST(p_base AS DOUBLE) - p, 0) / p_base
              ELSE 0.0 END AS effect
  FROM conv CROSS JOIN base WHERE removal <> '__none__'),
tot AS (SELECT sum(effect) AS tot_eff FROM eff)
SELECT channel,
       CAST(round((CAST(p_base AS DOUBLE) / {_MKV_P1}) * 1e6) AS BIGINT)
         / 1e6 AS p_conv_base,
       CAST(round((CAST(p_removed_micro AS DOUBLE) / {_MKV_P1}) * 1e6)
            AS BIGINT) / 1e6 AS p_conv_removed,
       CAST(round(effect * 1e6) AS BIGINT) / 1e6 AS removal_effect,
       CAST(round((CASE WHEN tot_eff > 0 THEN effect / tot_eff ELSE 0 END)
                  * 1e6) AS BIGINT) / 1e6 AS attribution_share
FROM eff CROSS JOIN base CROSS JOIN tot
"""


@register("markov_attribution", oracle=_MKV_ORACLE)
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: build the first-order
    absorbing chain over user journeys (journeys split at each
    purchase; __start__ -> channels -> __conv__ / __null__), compute
    the {n}-step conversion probability from __start__ by fixed-point
    sweeps, then re-compute it with each channel REMOVED (its outgoing
    edges dropped, inbound mass absorbed to null via p(channel)=0 —
    keeping the ORIGINAL out-degree denominators so removed mass is
    genuinely lost). Channel credit = normalized removal effect
    1 - p_removed/p_base — the data-driven attribution model that
    completes the heuristic trio (lasttouch / position / timedecay).

    Scale shape: journeys and transitions come from user-partitioned
    windows (bounded partitions) reduced to an O(channels^2) edge
    frame; that ~k^2-row transition matrix is collected (the
    regression-Gram pattern — the allowed O(groups) collect) and the
    {iters} sweeps x (k+1) removal scenarios run driver-side in exact
    Python integers: a 24-deep chained-join lineage for a 50-row fixed
    point costs ~30 s of pure Catalyst planning and zero cluster work,
    so the driver loop IS the scalable form. Display math stays in
    Spark expressions.

    Parity (the pagerank/kmeans recipe): probabilities are integer
    micro-units; each sweep is exact integer multiply-sum-floordiv
    (all values nonnegative, so both engines' integer division is the
    same floor); the oracle unrolls the sweeps as MATERIALIZED CTEs
    (inlined CTE chains blow up DuckDB planning). Doubles appear only
    in the final effect/share display expressions.""".format(
        n=_MKV_ITERS, iters=_MKV_ITERS
    )
    e0 = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e0.select(
        "user_id",
        "event_type",
        F.row_number().over(w_u).alias("seq"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
            ).over(w_u.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("journey"),
    )
    w_j = Window.partitionBy("user_id", "journey").orderBy("seq")
    seqd = ev.select(
        "user_id",
        "journey",
        "event_type",
        "seq",
        F.row_number().over(w_j).alias("j_seq"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "journey"))
        .cast("long")
        .alias("j_len"),
    )
    tr0 = seqd.select(
        F.when(F.col("j_seq") == 1, F.lit("__start__"))
        .otherwise(F.lag("event_type").over(w_j))
        .alias("src"),
        F.when(F.col("event_type") == "purchase", F.lit("__conv__"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
        F.when(
            (F.col("j_seq") == F.col("j_len"))
            & (F.col("event_type") != "purchase"),
            F.col("event_type"),
        ).alias("drop_src"),
    )
    e = (
        tr0.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .unionByName(
            tr0.filter(F.col("drop_src").isNotNull())
            .groupBy(F.col("drop_src").alias("src"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select("src", F.lit("__null__").alias("dst"), "cnt")
        )
        .groupBy("src", "dst")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    # The transition matrix is O(channels^2) ~ 50 rows — collect it and
    # run the exact integer sweeps driver-side (the regression-Gram
    # pattern: distributed fact-scale reduction, O(k^2) driver solve).
    # A 24-deep chained-join lineage for a 50-row fixed point costs
    # ~30 s of pure Catalyst planning; the driver loop is identical
    # integer arithmetic (nonnegative //) and bit-equal to the oracle.
    edge_rows = e.collect()
    outd: dict[str, int] = {}
    for r in edge_rows:
        outd[r["src"]] = outd.get(r["src"], 0) + r["cnt"]
    channels = sorted(
        {r["src"] for r in edge_rows if r["src"] != "__start__"}
    )
    results = {}
    for removal in ["__none__", *channels]:
        tr = [r for r in edge_rows if r["src"] != removal]
        p_state = {s: 0 for s in outd}
        for _ in range(_MKV_ITERS):
            nxt = {}
            for s in {r["src"] for r in tr}:
                acc = 0
                for r in tr:
                    if r["src"] != s:
                        continue
                    d = r["dst"]
                    if d == "__conv__":
                        pv = _MKV_P1
                    elif d == "__null__" or d == removal:
                        pv = 0
                    else:
                        pv = p_state.get(d, 0)
                    acc += r["cnt"] * pv
                nxt[s] = acc // outd[s]
            p_state = nxt
        results[removal] = p_state.get("__start__", 0)
    p_base_v = results["__none__"]
    eff_df = e.sparkSession.createDataFrame(
        [(c, results[c], p_base_v) for c in channels],
        "channel string, p_removed_micro long, p_base long",
    )
    # zero base conversion probability (round-7 one-type fuzz: a
    # purchase-free stream): removal effects are all 0, not 0/0
    eff = eff_df.select(
        "channel",
        "p_removed_micro",
        "p_base",
        F.when(
            F.col("p_base") > 0,
            F.greatest(
                F.col("p_base").cast("double") - F.col("p_removed_micro"),
                F.lit(0.0),
            )
            / F.col("p_base"),
        )
        .otherwise(F.lit(0.0))
        .alias("effect"),
    )
    tot = eff.agg(F.sum("effect").alias("tot_eff"))
    out = eff.transform(with_scalars, tot)
    return out.select(
        "channel",
        (
            r6(F.col("p_base").cast("double") / _MKV_P1)
        ).alias("p_conv_base"),
        (
            r6(F.col("p_removed_micro").cast("double") / _MKV_P1)
        ).alias("p_conv_removed"),
        r6(F.col("effect")).alias(
            "removal_effect"
        ),
        (
            r6(
                F.when(
                    F.col("tot_eff") > 0, F.col("effect") / F.col("tot_eff")
                ).otherwise(F.lit(0.0))
            )
        ).alias("attribution_share"),
    )


# --------------------------------------------------------------------------
# Exact Shapley-value attribution over the channel-subset lattice
# --------------------------------------------------------------------------

_SHAP_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS journey
  FROM events),
jconv AS (
  SELECT user_id, journey,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM ev GROUP BY 1, 2),
jch AS (
  SELECT DISTINCT user_id, journey, event_type AS channel
  FROM ev WHERE event_type <> 'purchase'),
ch AS (
  SELECT channel,
         row_number() OVER (ORDER BY channel) - 1 AS idx
  FROM (SELECT DISTINCT channel FROM jch)),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ch),
jmask AS (
  SELECT j.user_id, j.journey,
         CAST(sum(1 << ch.idx) AS BIGINT) AS mask
  FROM jch j JOIN ch ON j.channel = ch.channel
  GROUP BY 1, 2),
v AS (
  SELECT m.mask, CAST(count(*) AS BIGINT) AS n,
         CAST(round(CAST(sum(c.conv) AS DOUBLE) * 1e6 / count(*)) AS BIGINT)
           AS v_micro
  FROM jmask m JOIN jconv c
    ON m.user_id = c.user_id AND m.journey = c.journey
  GROUP BY 1),
allm AS (
  SELECT unnest(range(0, (1 << k))) AS mask FROM kk),
vf AS (
  SELECT allm.mask, COALESCE(v.v_micro, 0) AS v_micro
  FROM allm LEFT JOIN v ON allm.mask = v.mask),
pairs AS (
  SELECT ch.channel, vf.mask, vf.v_micro AS v1, v2.v_micro AS v2, kk.k,
         bit_count(vf.mask) AS sz
  FROM ch CROSS JOIN kk
  JOIN vf ON (vf.mask & (1 << ch.idx)) = 0
  JOIN vf v2 ON v2.mask = vf.mask + (1 << ch.idx)),
phi AS (
  SELECT channel, any_value(k) AS k,
         CAST(sum(factorial(CAST(sz AS INTEGER)) * factorial(CAST(k - 1 - sz AS INTEGER)) * (v2 - v1))
              AS BIGINT) AS phi_num
  FROM pairs GROUP BY 1),
touch AS (
  SELECT ch.channel, CAST(count(*) AS BIGINT) AS n_touched
  FROM jmask JOIN ch ON (jmask.mask & (1 << ch.idx)) <> 0
  GROUP BY 1),
tot AS (SELECT CAST(sum(phi_num) AS BIGINT) AS tot_num FROM phi)
SELECT phi.channel, touch.n_touched,
       CAST(round((CAST(phi.phi_num AS DOUBLE) / factorial(CAST(phi.k AS INTEGER)) / 1e6)
                  * 1e6) AS BIGINT) / 1e6 AS shapley_value,
       CAST(round((CASE WHEN tot.tot_num <> 0
                   THEN CAST(phi.phi_num AS DOUBLE) / tot.tot_num
                   ELSE 0 END) * 1e6) AS BIGINT) / 1e6
         AS attribution_share
FROM phi JOIN touch ON phi.channel = touch.channel CROSS JOIN tot
"""


@register("shapley_attribution", oracle=_SHAP_ORACLE)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the channel-subset
    lattice: each journey's touched-channel SET becomes a bitmask,
    coalition value v(S) = conversion rate of journeys with mask
    exactly S (unobserved coalitions 0, v(empty) := 0), and each
    channel's credit is the exact Shapley sum
    phi_c = sum_S |S|!(k-|S|-1)!/k! * (v(S+c) - v(S)) — the
    game-theoretic gold standard the Markov removal effect
    approximates (k channels is small, so the 2^k lattice is exact and
    cheap; sampling permutations is only needed when k is large).
    Efficiency identity sum phi_c = v(grand coalition) holds by
    construction and is pinned in tests.

    Scale shape: journey masks come from user-partitioned windows and
    one integer groupBy (fact-scale, map-side combinable); everything
    after lives on the O(2^k) coalition frame — the subset lattice
    join is (k x 2^k) rows of exact bit arithmetic.

    Parity: coalition values micro-round ONCE (round(conv*1e6/n) of
    exact integers); the Shapley sum is exact integer factorial-weight
    arithmetic (both engines' factorial/bit_count/shifts on BIGINT);
    the two display divisions are single double expressions."""
    e0 = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e0.select(
        "user_id",
        "event_type",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1)).over(
                w_u.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("journey"),
    )
    jconv = ev.groupBy("user_id", "journey").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    jch = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", "journey", F.col("event_type").alias("channel"))
        .distinct()
    )
    ch = jch.select("channel").distinct().select(
        "channel",
        (F.row_number().over(Window.orderBy("channel")) - 1).alias("idx"),
    )
    kk = ch.agg(F.count(F.lit(1)).cast("long").alias("k"))
    jmask = (
        jch.join(F.broadcast(ch), "channel")
        .groupBy("user_id", "journey")
        .agg(F.sum(F.expr("shiftleft(1, idx)")).cast("long").alias("mask"))
    )
    v = (
        jmask.join(jconv, ["user_id", "journey"])
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum("conv").cast("double") * 1e6 / F.count(F.lit(1))
            )
            .cast("long")
            .alias("v_micro"),
        )
    )
    allm = kk.select(
        F.explode(
            F.sequence(F.lit(0), F.expr("shiftleft(1, CAST(k AS INT)) - 1"))
        ).alias("mask")
    )
    vf = allm.join(F.broadcast(v.select("mask", "v_micro")), "mask", "left").select(
        "mask", F.coalesce("v_micro", F.lit(0)).alias("v_micro")
    )
    v2 = vf.select(F.col("mask").alias("mask2"), F.col("v_micro").alias("v2"))
    pairs = (
        ch.transform(with_scalars, kk)
        .join(
            F.broadcast(vf),
            F.expr("(mask & shiftleft(1, idx)) = 0"),
        )
        .withColumn("mask2", F.expr("mask + shiftleft(1, idx)"))
        .join(F.broadcast(v2), "mask2")
        .select(
            "channel",
            "k",
            F.expr("bit_count(mask)").alias("sz"),
            (F.col("v2") - F.col("v_micro")).alias("marg"),
        )
    )
    phi = pairs.groupBy("channel").agg(
        F.any_value("k").alias("k"),
        F.sum(
            F.factorial(F.col("sz").cast("int"))
            * F.factorial((F.col("k") - 1 - F.col("sz")).cast("int"))
            * F.col("marg")
        )
        .cast("long")
        .alias("phi_num"),
    )
    touch = (
        jmask.transform(explode_grid, ch)
        .filter(F.expr("(mask & shiftleft(1, idx)) <> 0"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_touched"))
    )
    tot = phi.agg(F.sum("phi_num").cast("long").alias("tot_num"))
    out = phi.join(touch, "channel").transform(with_scalars, tot)
    return out.select(
        "channel",
        "n_touched",
        (
            r6(
                F.col("phi_num").cast("double")
                / F.factorial(F.col("k").cast("int"))
                / F.lit(1e6)
            )
        ).alias("shapley_value"),
        (
            r6(
                F.when(
                    F.col("tot_num") != 0,
                    F.col("phi_num").cast("double") / F.col("tot_num"),
                ).otherwise(F.lit(0.0))
            )
        ).alias("attribution_share"),
    )


# --------------------------------------------------------------------------
# Week-over-week top-k churn (leaderboard stability)
# --------------------------------------------------------------------------

_CHURN_K = 20
_WEEK_US = 7 * 86_400_000_000

_CHURN_ORACLE = f"""
WITH wk AS (
  SELECT epoch_us(date_trunc('week', ts)) AS week_us, user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
rk AS (
  SELECT week_us, user_id, cents,
         CAST(row_number() OVER (PARTITION BY week_us
                                 ORDER BY cents DESC, user_id) AS BIGINT)
           AS rnk
  FROM wk),
tk AS (SELECT * FROM rk WHERE rnk <= {_CHURN_K}),
sz AS (SELECT week_us, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
met AS (
  SELECT a.week_us,
         CAST(count(*) AS BIGINT) AS retained,
         CAST(sum(abs(a.rnk - b.rnk)) AS BIGINT) AS disp_sum
  FROM tk a JOIN tk b
    ON b.week_us = a.week_us + {_WEEK_US} AND a.user_id = b.user_id
  GROUP BY 1)
SELECT CAST(make_timestamp(sa.week_us) AS TIMESTAMP) AS week_start,
       sa.n AS n_curr, sb.n AS n_next,
       COALESCE(met.retained, 0) AS retained,
       CAST(round((CAST(COALESCE(met.retained, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(met.retained, 0))) * 1e6)
            AS BIGINT) / 1e6 AS jaccard,
       CASE WHEN COALESCE(met.retained, 0) > 0
            THEN CAST(round((CAST(met.disp_sum AS DOUBLE) / met.retained)
                            * 1e6) AS BIGINT) / 1e6 END
         AS mean_rank_displacement
FROM sz sa
JOIN sz sb ON sb.week_us = sa.week_us + {_WEEK_US}
LEFT JOIN met ON met.week_us = sa.week_us
"""


@register("topk_churn", oracle=_CHURN_ORACLE)
def topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn of the top-{k} user leaderboard (by total
    event value): retained membership, Jaccard stability of the two
    top-k sets, and mean absolute rank displacement among retained
    users — the leaderboard-volatility monitor that tells a curation
    or growth team whether week-on-week movement is organic or a
    pipeline regression (complements rolling_top_performers' windowed
    view with set-level metrics).

    Scale shape: fact rows reduce to (week, user) integer cells
    (map-side combinable); ranking is a week-partitioned window over
    those cells (bounded by users-per-week; at extreme cardinality
    swap in the salted two-stage top-k of salted_topk_users — same
    downstream frame); everything after lives on O(weeks x k) rows
    joined week-to-next-week by exact integer epoch arithmetic.

    Parity: ranks break ties by user_id (total order); weeks ride as
    exact epoch-microsecond integers through the joins and convert to
    timestamps only at display; all counts/displacements are exact
    BIGINT with single-double display divisions."""
    e0 = load_table(spark, sf_dir, "events")
    wk = (
        e0.select(
            F.unix_micros(F.date_trunc("week", F.col("ts"))).alias("week_us"),
            "user_id",
            round_long(F.col("value") * 100).alias("c"),
        )
        .groupBy("week_us", "user_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.partitionBy("week_us").orderBy(
        F.col("cents").desc(), F.col("user_id")
    )
    tk = wk.select(
        "week_us",
        "user_id",
        "cents",
        F.row_number().over(w).cast("long").alias("rnk"),
    ).filter(F.col("rnk") <= _CHURN_K)
    sz = tk.groupBy("week_us").agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = tk.select(
        (F.col("week_us") - _WEEK_US).alias("week_us"),
        "user_id",
        F.col("rnk").alias("rnk_next"),
    )
    met = (
        tk.join(b, ["week_us", "user_id"])
        .groupBy("week_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("retained"),
            F.sum(F.abs(F.col("rnk") - F.col("rnk_next")))
            .cast("long")
            .alias("disp_sum"),
        )
    )
    sb = sz.select(
        (F.col("week_us") - _WEEK_US).alias("week_us"),
        F.col("n").alias("n_next"),
    )
    out = (
        sz.join(sb, "week_us")
        .join(met, "week_us", "left")
        .select(
            "week_us",
            F.col("n").alias("n_curr"),
            "n_next",
            F.coalesce("retained", F.lit(0)).cast("long").alias("retained"),
            "disp_sum",
        )
    )
    jac = F.col("retained").cast("double") / (
        F.col("n_curr") + F.col("n_next") - F.col("retained")
    )
    return out.select(
        F.timestamp_micros(F.col("week_us")).alias("week_start"),
        "n_curr",
        "n_next",
        "retained",
        r6(jac).alias("jaccard"),
        F.when(
            F.col("retained") > 0,
            r6(F.col("disp_sum").cast("double") / F.col("retained")),
        ).alias("mean_rank_displacement"),
    )


# --------------------------------------------------------------------------
# Transition entropy rate (sequence predictability)
# --------------------------------------------------------------------------

_TER_ORACLE = """
WITH seqd AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events),
tr AS (
  SELECT prev AS x, event_type AS y, CAST(count(*) AS BIGINT) AS n_xy
  FROM seqd WHERE prev IS NOT NULL GROUP BY 1, 2),
xs AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM tr GROUP BY 1),
ys AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM tr GROUP BY 1),
ns AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM tr),
hc AS (
  SELECT CAST(sum(n_xy * (
           CAST(round(ln(CAST(n_x AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(n_xy AS DOUBLE)) * 1e6) AS BIGINT)))
           AS BIGINT) AS hcond_ev
  FROM tr JOIN xs ON tr.x = xs.x),
hm AS (
  SELECT CAST(sum(n_y * (
           CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(n_y AS DOUBLE)) * 1e6) AS BIGINT)))
           AS BIGINT) AS hmarg_ev
  FROM ys CROSS JOIN ns)
SELECT ns.n AS n_transitions,
       CAST(round((CAST(hc.hcond_ev AS DOUBLE) / ns.n / 1e6) * 1e6)
            AS BIGINT) / 1e6 AS entropy_rate_nats,
       CAST(round((CAST(hm.hmarg_ev AS DOUBLE) / ns.n / 1e6) * 1e6)
            AS BIGINT) / 1e6 AS marginal_entropy_nats,
       CAST(round((CASE WHEN hm.hmarg_ev > 0
                   THEN 1e0 - CAST(hc.hcond_ev AS DOUBLE) / hm.hmarg_ev
                   ELSE 0 END) * 1e6) AS BIGINT) / 1e6
         AS predictability_gain
FROM hc CROSS JOIN hm CROSS JOIN ns
"""


@register("transition_entropy_rate", oracle=_TER_ORACLE)
def transition_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of the per-user event stream:
    H(next | prev) over the transition counts, beside the marginal
    H(next) and the predictability gain 1 - H(next|prev)/H(next) — the
    information-theoretic summary of event_transitions (how much the
    Markov structure actually buys a sequence model / next-event
    cache; gain ~0 means transitions are noise).

    Scale shape: one user-partitioned lag window reduced to the
    O(types^2) transition frame; everything after is exact integer
    arithmetic on that constant-size frame.

    Parity: the micro-nat evidence recipe — H(Y|X) evidence is
    sum n_xy*(ln(n_x) - ln(n_xy)) with each ln of an exact count
    rounded once; display divisions are single double expressions
    (half-ulp libm residual class)."""
    e0 = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e0.select(
            F.lag("event_type").over(w_u).alias("x"),
            F.col("event_type").alias("y"),
        )
        .filter(F.col("x").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    xs = tr.groupBy("x").agg(F.sum("n_xy").cast("long").alias("n_x"))
    ys = tr.groupBy("y").agg(F.sum("n_xy").cast("long").alias("n_y"))
    ns = tr.agg(F.sum("n_xy").cast("long").alias("n"))

    def lnm(c):
        return round_long(F.log(c.cast("double")) * 1e6)

    hc = (
        tr.join(F.broadcast(xs), "x")
        .agg(
            F.sum(F.col("n_xy") * (lnm(F.col("n_x")) - lnm(F.col("n_xy"))))
            .cast("long")
            .alias("hcond_ev")
        )
    )
    hm = ys.transform(with_scalars, ns).agg(
        F.sum(F.col("n_y") * (lnm(F.col("n")) - lnm(F.col("n_y"))))
        .cast("long")
        .alias("hmarg_ev")
    )
    out = hc.transform(with_scalars, hm).transform(with_scalars, ns)
    return out.select(
        F.col("n").alias("n_transitions"),
        (
            r6(F.col("hcond_ev").cast("double") / F.col("n") / 1e6)
        ).alias("entropy_rate_nats"),
        (
            r6(F.col("hmarg_ev").cast("double") / F.col("n") / 1e6)
        ).alias("marginal_entropy_nats"),
        (
            r6(
                F.when(
                    F.col("hmarg_ev") > 0,
                    1.0 - F.col("hcond_ev").cast("double") / F.col("hmarg_ev"),
                ).otherwise(F.lit(0.0))
            )
        ).alias("predictability_gain"),
    )


# --------------------------------------------------------------------------
# Empirical-Bayes beta-binomial rate shrinkage
# --------------------------------------------------------------------------

_EB_R6 = "CAST(round(({x}) * 1e6) AS BIGINT) / 1e6"

_EB_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purch
  FROM events GROUP BY 1),
q AS (
  SELECT user_id, n_events, n_purch,
         CAST(round(CAST(n_purch AS DOUBLE) / n_events * 1e6) AS BIGINT) AS rq
  FROM per_user),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(rq) AS BIGINT) AS srq,
         CAST(sum(rq * rq) AS BIGINT) AS srq2
  FROM q),
prior AS (
  SELECT k, srq, srq2,
         CAST(srq AS DOUBLE) / k / 1e6 AS m,
         CASE WHEN k > 1
              THEN (CAST(srq2 AS DOUBLE) - CAST(srq AS DOUBLE) * srq / k)
                   / (k - 1) / 1e12 END AS v
  FROM mom),
ab AS (
  SELECT CASE WHEN v > 0 AND v < m * (1 - m)
              THEN m * (m * (1 - m) / v - 1) ELSE 1.0 END AS alpha,
         CASE WHEN v > 0 AND v < m * (1 - m)
              THEN (1 - m) * (m * (1 - m) / v - 1) ELSE 1.0 END AS beta
  FROM prior)
SELECT user_id, n_events, n_purch,
  {_EB_R6.format(x="CAST(n_purch AS DOUBLE) / n_events")} AS raw_rate,
  {_EB_R6.format(x="(n_purch + alpha) / (n_events + alpha + beta)")}
    AS shrunk_rate,
  {_EB_R6.format(x="alpha")} AS prior_alpha,
  {_EB_R6.format(x="beta")} AS prior_beta
FROM q CROSS JOIN ab
"""


@register("eb_rate_shrinkage", oracle=_EB_ORACLE)
def eb_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates under a
    beta-binomial model: a method-of-moments Beta(α, β) prior fit to
    the cross-user rate distribution, then each user's posterior mean
    (x+α)/(n+α+β) — the standard CTR-smoothing estimator that keeps a
    3-event user from looking like a 100 % converter.  Degenerate
    moments (v ≤ 0 or v ≥ m(1−m)) fall back to the uniform Beta(1,1).

    Scale shape: one map-side-combinable per-user aggregate; rates are
    quantized once to integer 1e-6 grain so the cross-user moment sums
    (Σr, Σr²) are exact BIGINTs (headroom to ~1e6 users at this grain;
    the sums, not the raw doubles, cross the shuffle), and the fitted
    α, β live in a 1-row frame injected as merged scalar subqueries.  Posterior means are pure
    per-row arithmetic — no second shuffle.
    """
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("long")
            .alias("n_purch"),
        )
    )
    q = per_user.withColumn(
        "rq",
        round_long(
            F.col("n_purch").cast("double") / F.col("n_events") * 1e6
        ),
    )
    mom = q.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("rq").cast("long").alias("srq"),
        F.sum(F.col("rq") * F.col("rq")).cast("long").alias("srq2"),
    )
    m = F.col("srq").cast("double") / F.col("k") / 1e6
    # k = 1 (a single user — round-7 one_ticker fuzz) leaves the
    # moment variance undefined: NULL v, so the Beta(1,1) fallback
    # below fires instead of an ANSI divide-by-zero on (k - 1)
    v = F.when(
        F.col("k") > 1,
        (
            F.col("srq2").cast("double")
            - F.col("srq").cast("double") * F.col("srq") / F.col("k")
        )
        / (F.col("k") - 1)
        / 1e12,
    )
    ok = (v > 0) & (v < m * (1 - m))
    scale = m * (1 - m) / v - 1
    ab = mom.select(
        F.when(ok, m * scale).otherwise(F.lit(1.0)).alias("alpha"),
        F.when(ok, (1 - m) * scale).otherwise(F.lit(1.0)).alias("beta"),
    )
    return q.transform(with_scalars, ab).select(
        "user_id",
        "n_events",
        "n_purch",
        r6(F.col("n_purch").cast("double") / F.col("n_events")).alias(
            "raw_rate"
        ),
        r6(
            (F.col("n_purch") + F.col("alpha"))
            / (F.col("n_events") + F.col("alpha") + F.col("beta"))
        ).alias("shrunk_rate"),
        r6(F.col("alpha")).alias("prior_alpha"),
        r6(F.col("beta")).alias("prior_beta"),
    )


# --------------------------------------------------------------------------
# Sequential-pattern mining: frequent event-type trigrams
# --------------------------------------------------------------------------

_SEQ3_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
tri AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS t1,
         lag(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
pat AS (
  SELECT t1, t2, t3,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM tri WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
denom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM (
    SELECT user_id FROM e GROUP BY 1 HAVING count(*) >= 3))
SELECT t1, t2, t3, n_occurrences, n_users,
  {_EB_R6.format(x="CAST(n_users AS DOUBLE) / n_total")} AS user_support
FROM pat CROSS JOIN denom
"""


@register("frequent_sequences", oracle=_SEQ3_ORACLE)
def frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (PrefixSpan-lite): every consecutive
    event-type trigram in each user's timeline, with occurrence count,
    distinct-user support, and support share over users long enough to
    emit a trigram — the contiguous-sequence core of funnel discovery
    (which 3-step paths actually happen, vs funnel_conversion which
    scores one declared path).

    Scale shape: two lag() frames on the per-user window (one shuffle
    on user_id, same exchange both lags); the pattern space is at most
    |event types|³ rows, so the trigram aggregate collapses fact-scale
    to a tiny frame map-side; the distinct-user count is the only
    pattern-keyed shuffle.  The ordering (us, event_id) is total, so
    trigram formation is deterministic in both engines.
    """
    e = spread(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tri = e.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    pat = tri.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    denom = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    )
    return pat.transform(with_scalars, denom).select(
        "t1",
        "t2",
        "t3",
        "n_occurrences",
        "n_users",
        r6(F.col("n_users").cast("double") / F.col("n_total")).alias(
            "user_support"
        ),
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering: cosine top-k recommendations
# --------------------------------------------------------------------------

_CF_TOPK = 3

_CF_ORACLE = f"""
WITH assoc0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
assoc AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM assoc0)
  WHERE bsz <= {_DEFAULT_MAX_BASKET}),
marg AS (
  SELECT l_partkey, count(*) AS n_part FROM assoc GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
sym AS (
  SELECT part_a AS item, part_b AS rec, n_both FROM pairs
  UNION ALL
  SELECT part_b AS item, part_a AS rec, n_both FROM pairs),
scored AS (
  SELECT s.item, s.rec, CAST(s.n_both AS BIGINT) AS n_both,
         CAST(round(CAST(s.n_both AS DOUBLE)
                    / sqrt(CAST(mi.n_part AS DOUBLE) * mr.n_part) * 1e6)
              AS BIGINT) / 1e6 AS cosine
  FROM sym s
  JOIN marg mi ON s.item = mi.l_partkey
  JOIN marg mr ON s.rec = mr.l_partkey)
SELECT item, rec, n_both, cosine,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY cosine DESC, rec ASC) AS rnk
  FROM scored)
WHERE rnk <= {_CF_TOPK}
"""


@register("item_cf_topk", oracle=_CF_ORACLE)
def item_cf_topk(
    spark: SparkSession,
    sf_dir: str,
    max_basket_size: int | None = _DEFAULT_MAX_BASKET,
) -> DataFrame:
    """Item-item collaborative filtering: for every part, the top-k
    'customers also bought' recommendations by co-occurrence COSINE
    n_both / sqrt(n_a * n_b) — the memory-based recommender primitive
    one step up from copurchase_lift (lift ranks pairs globally;
    cosine normalizes away item popularity and ranks per item).

    Scale shape: identical pair-volume story to copurchase_lift —
    mega baskets capped by the REGISTERED default ``max_basket_size``
    (filtered-universe semantics; pass None for uncapped), marginals
    attached pre-expansion and the expansion shuffle self-sized via
    :func:`_marginal_pair_counts` (no O(pairs) marginal join ever
    runs). Symmetrization doubles the already-collapsed O(pairs)
    frame map-side; the final rank partitions by item over each
    item's bounded candidate list and rides an explicit
    repartition at the SAME self-sized partition count, so the
    pair-frame window sort scales with the data instead of dying at
    the session default (the SCALE.md round-4 memory wall).

    Determinism: round-then-rank (cosine_topk convention) — the
    cosine is micro-rounded identically in both engines BEFORE the
    rank, and rec id breaks exact ties, so row_number is total."""
    li = load_table(spark, sf_dir, "lineitem")
    assoc, raw = _basket_universe(li, max_basket_size)
    pairs, n_shuffle = _marginal_pair_counts(assoc, bound_src=raw)
    sym = pairs.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("rec"),
        F.col("n_a").alias("n_i"),
        F.col("n_b").alias("n_r"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("rec"),
            F.col("n_b").alias("n_i"),
            F.col("n_a").alias("n_r"),
            "n_both",
        )
    )
    scored = sym.select(
        "item",
        "rec",
        F.col("n_both").cast("long").alias("n_both"),
        (
            r6(F.col("n_both") / F.sqrt(F.col("n_i").cast("double") * F.col("n_r")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("rec"))
    return (
        scored.repartition(n_shuffle, "item")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _CF_TOPK)
    )


# --------------------------------------------------------------------------
# Brier-score Murphy decomposition (round 3)
# --------------------------------------------------------------------------

_BRIER_ORACLE = f"""
WITH hist AS (
  SELECT user_id,
         count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'),
scored AS (
  SELECT (h.n_p * 1000000) // h.n_ev AS s_micro,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
cells AS (
  SELECT least(s_micro // {1_000_000 // _CAL_BINS}, {_CAL_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s_micro) AS BIGINT) AS sum_p,
         CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum((s_micro - y * 1000000) * (s_micro - y * 1000000))
              AS BIGINT) AS sq
  FROM scored GROUP BY 1),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(sum_y) AS BIGINT) AS y_tot,
         CAST(sum(sq) AS BIGINT) AS sq_tot
  FROM cells),
terms AS (
  SELECT bin, n, sum_p, sum_y, n_tot, y_tot, sq_tot,
         CAST(round(n * (sum_p / n / 1e6 - sum_y / n)
                      * (sum_p / n / 1e6 - sum_y / n) * 1e6)
              AS BIGINT) AS rel_micro,
         CAST(round(n * (sum_y / n - y_tot / n_tot)
                      * (sum_y / n - y_tot / n_tot) * 1e6)
              AS BIGINT) AS res_micro
  FROM cells CROSS JOIN tot)
SELECT bin, n AS n_users,
       sum_p / n / 1e6 AS mean_predicted,
       sum_y / n AS observed_rate,
       rel_micro / 1e6 AS rel_term,
       res_micro / 1e6 AS res_term,
       CAST(sum(rel_micro) OVER () AS BIGINT) / n_tot / 1e6 AS reliability,
       CAST(sum(res_micro) OVER () AS BIGINT) / n_tot / 1e6 AS resolution,
       CAST(round(y_tot / n_tot * (1e0 - y_tot / n_tot) * 1e6) AS BIGINT)
         / 1e6 AS uncertainty,
       sq_tot / n_tot / 1e12 AS brier
FROM terms
"""


@register("brier_decomposition", oracle=_BRIER_ORACLE)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the propensity
    model behind calibration_bins: per-decile reliability and
    resolution terms plus the aggregate reliability, resolution,
    uncertainty, and raw Brier score — the eval that separates "the
    model is miscalibrated" (reliability) from "the model can't
    discriminate" (resolution). Within-bin forecast variance means
    Brier != REL - RES + UNC exactly; all four are reported raw so a
    user sees the residual rather than a silently 'adjusted' identity.

    Scale shape: same two fact-scale scans as calibration_bins (both
    split predicates push down), one 10-group cell aggregate carrying
    exact integer (count, score-sum, label-sum, squared-error) sums,
    then all statistics on the O(bins) frame with a scalar-subquery
    totals frame and an O(bins) window sum.

    Determinism: scores are exact integer micro-fractions; the squared
    error rides as the exact BIGINT (s_micro - y*1e6)^2 so the Brier
    numerator is exact; every ratio is a division of identical exact
    integers (IEEE-deterministic); the per-bin REL/RES terms are
    micro-rounded ONCE and their totals are exact integer sums."""
    scored = _holdout_scores(load_table(spark, sf_dir, "events"))
    err = F.col("s_micro") - F.col("y") * 1000000
    cells = (
        scored.select(
            F.expr(
                f"least(s_micro div {1_000_000 // _CAL_BINS}, {_CAL_BINS - 1})"
            ).alias("bin"),
            "s_micro",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("s_micro").cast("long").alias("sum_p"),
            F.sum("y").cast("long").alias("sum_y"),
            F.sum(err * err).cast("long").alias("sq"),
        )
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("sum_y").cast("long").alias("y_tot"),
        F.sum("sq").cast("long").alias("sq_tot"),
    )
    pbar = F.col("sum_p") / F.col("n") / 1e6
    obs_k = F.col("sum_y") / F.col("n")
    obs = F.col("y_tot") / F.col("n_tot")
    terms = cells.transform(with_scalars, tot).select(
        "bin",
        "n",
        "sum_p",
        "sum_y",
        "n_tot",
        "y_tot",
        "sq_tot",
        round_long(F.col("n") * (pbar - obs_k) * (pbar - obs_k) * 1e6)
        .alias("rel_micro"),
        round_long(F.col("n") * (obs_k - obs) * (obs_k - obs) * 1e6)
        .alias("res_micro"),
    )
    w = Window.partitionBy()
    return terms.select(
        "bin",
        F.col("n").alias("n_users"),
        pbar.alias("mean_predicted"),
        obs_k.alias("observed_rate"),
        (F.col("rel_micro") / 1e6).alias("rel_term"),
        (F.col("res_micro") / 1e6).alias("res_term"),
        (F.sum("rel_micro").over(w).cast("long") / F.col("n_tot") / 1e6).alias(
            "reliability"
        ),
        (F.sum("res_micro").over(w).cast("long") / F.col("n_tot") / 1e6).alias(
            "resolution"
        ),
        (
            r6(obs * (F.lit(1.0) - obs))
        ).alias("uncertainty"),
        (F.col("sq_tot") / F.col("n_tot") / 1e12).alias("brier"),
    )


# --------------------------------------------------------------------------
# Retention half-life: log-linear decay fit of the retention curve
# --------------------------------------------------------------------------

_RHL_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1),
activity AS (
  SELECT DISTINCT e.user_id, date_trunc('day', e.ts) AS day
  FROM events e),
cohort_sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n0 FROM firsts GROUP BY 1),
ret AS (
  SELECT f.cohort_day,
         CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS age,
         CAST(count(DISTINCT a.user_id) AS BIGINT) AS active
  FROM activity a JOIN firsts f ON a.user_id = f.user_id
  WHERE a.day > f.cohort_day
  GROUP BY 1, 2),
pts AS (
  SELECT r.cohort_day, r.age, r.active, s.n0,
    CAST(round(ln(CAST(r.active AS DOUBLE) / s.n0) * 1e6) AS BIGINT) AS ly
  FROM ret r JOIN cohort_sizes s ON r.cohort_day = s.cohort_day
  WHERE r.active > 0),
g AS (
  SELECT cohort_day, CAST(any_value(n0) AS BIGINT) AS n0,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(age) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
    CAST(sum(age * ly) AS BIGINT) AS sxy,
    CAST(sum(age * age) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
  HAVING count(*) >= 3),
fit AS (
  SELECT cohort_day, n0, n,
    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 1e6
      AS decay
  FROM g
  WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0)
SELECT cohort_day, n0 AS cohort_size, n AS n_ages,
  round(decay, 6) AS daily_log_decay,
  round(CASE WHEN decay < 0
        THEN CAST('-6.93147180559945e-1' AS DOUBLE) / decay END, 6)
    AS half_life_days
FROM fit
"""


@register("retention_half_life", oracle=_RHL_ORACLE)
def retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life per signup cohort: fit ln(retention) on
    age-days by OLS and convert the decay slope to a half-life
    −ln 2 / slope — the one-number summary of cohort_retention's
    matrix that growth teams actually compare across cohorts
    (negative-decay cohorts report NULL half-life in both engines).

    Determinism and scale: the retention matrix reduces to O(cohorts
    × ages) cells; per-cell log retention micro-rounds ONCE, the OLS
    runs on exact integer Gram sums per cohort, and ln 2 is a shared
    binary-exact literal.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("day")).distinct()
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n0")
    )
    ret = (
        activity.join(firsts, "user_id")
        .filter(F.col("day") > F.col("cohort_day"))
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("age"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active"))
    )
    pts = ret.join(F.broadcast(sizes), "cohort_day").filter(
        F.col("active") > 0
    ).select(
        "cohort_day",
        "age",
        "n0",
        round_long(
            F.log(F.col("active").cast("double") / F.col("n0")) * 1e6
        )
        .alias("ly"),
    )
    g = (
        pts.groupBy("cohort_day")
        .agg(
            F.any_value("n0").cast("long").alias("n0"),
            *moment_sums(F.col("age"), F.col("ly")),
        )
        .filter(F.col("n") >= 3)
    )
    det = scaled_comoment("n", "sxx", "sx", "sx")
    decay = scaled_comoment("n", "sxy", "sx", "sy") / det / 1e6
    ln2 = F.expr("CAST('-6.93147180559945e-1' AS DOUBLE)")
    return g.filter(det > 0).select(
        "cohort_day",
        F.col("n0").alias("cohort_size"),
        F.col("n").alias("n_ages"),
        F.round(decay, 6).alias("daily_log_decay"),
        F.round(F.when(decay < 0, ln2 / decay), 6).alias("half_life_days"),
    )


# --------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per week
# --------------------------------------------------------------------------

_GA_ORACLE = """
WITH wk AS (
  SELECT DISTINCT user_id,
    CAST(datediff('day', DATE '1970-01-01', date_trunc('day', ts))
         AS BIGINT) // 7 AS week
  FROM events),
firsts AS (
  SELECT user_id, CAST(min(week) AS BIGINT) AS first_week FROM wk GROUP BY 1),
states AS (
  SELECT w.user_id, w.week, f.first_week,
    CASE WHEN EXISTS (SELECT 1 FROM wk p
                      WHERE p.user_id = w.user_id AND p.week = w.week - 1)
         THEN 1 ELSE 0 END AS prev_active
  FROM wk w JOIN firsts f ON w.user_id = f.user_id),
flows AS (
  SELECT week,
    CAST(sum(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
      AS new_users,
    CAST(sum(CASE WHEN week > first_week AND prev_active = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
    CAST(sum(CASE WHEN week > first_week AND prev_active = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
  FROM states GROUP BY 1),
churn AS (
  SELECT w.week + 1 AS week, CAST(count(*) AS BIGINT) AS churned
  FROM wk w
  WHERE NOT EXISTS (SELECT 1 FROM wk n
                    WHERE n.user_id = w.user_id AND n.week = w.week + 1)
    AND w.week + 1 <= (SELECT max(week) FROM wk)
  GROUP BY 1)
SELECT f.week, f.new_users, f.retained, f.resurrected,
  CAST(coalesce(c.churned, 0) AS BIGINT) AS churned,
  round(CASE WHEN coalesce(c.churned, 0) > 0
        THEN CAST(f.new_users + f.resurrected AS DOUBLE) / c.churned END, 6)
    AS quick_ratio
FROM flows f LEFT JOIN churn c ON f.week = c.week
"""


@register("growth_accounting", oracle=_GA_ORACLE)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per ISO-ish week (epoch-day div 7), the four
    canonical user flows — new (first week), retained (active last
    week too), resurrected (returning after a gap), churned (active
    last week, absent now) — and the quick ratio
    (new + resurrected)/churned, the growth-health number that MAU
    deltas hide (a flat MAU can be healthy churn+resurrection or a
    leaky bucket).

    Determinism and scale: the stream reduces to distinct (user,
    week) presence; flows come from the per-user previous-week flag
    (a self-equi-join on the presence frame, never a window over raw
    events) and exact integer counts. Weeks are pure epoch-day
    arithmetic.
    """
    e = load_table(spark, sf_dir, "events")
    wk = e.select(
        "user_id",
        F.expr(
            "CAST(datediff(date_trunc('day', ts), DATE '1970-01-01')"
            " AS BIGINT) div 7"
        ).alias("week"),
    ).distinct()
    firsts = wk.groupBy("user_id").agg(
        F.min("week").cast("long").alias("first_week")
    )
    prev = wk.select(
        "user_id", (F.col("week") + 1).alias("week"), F.lit(1).alias("pa")
    )
    states = (
        wk.join(firsts, "user_id")
        .join(prev, ["user_id", "week"], "left")
        .select(
            "week",
            "first_week",
            F.coalesce(F.col("pa"), F.lit(0)).alias("prev_active"),
        )
    )
    flows = states.groupBy("week").agg(
        F.sum((F.col("week") == F.col("first_week")).cast("long"))
        .cast("long")
        .alias("new_users"),
        F.sum(
            (
                (F.col("week") > F.col("first_week"))
                & (F.col("prev_active") == 1)
            ).cast("long")
        )
        .cast("long")
        .alias("retained"),
        F.sum(
            (
                (F.col("week") > F.col("first_week"))
                & (F.col("prev_active") == 0)
            ).cast("long")
        )
        .cast("long")
        .alias("resurrected"),
    )
    nxt = wk.select(
        "user_id", (F.col("week") - 1).alias("week"), F.lit(1).alias("na")
    )
    maxw = wk.agg(F.max("week").alias("mx"))
    churn = (
        wk.join(nxt, ["user_id", "week"], "left")
        .filter(F.col("na").isNull())
        .transform(with_scalars, maxw)
        .filter(F.col("week") + 1 <= F.col("mx"))
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    out = flows.join(churn, "week", "left").select(
        "week",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce(F.col("churned"), F.lit(0)).cast("long").alias("churned"),
    )
    return out.select(
        "week",
        "new_users",
        "retained",
        "resurrected",
        "churned",
        F.round(
            F.when(
                F.col("churned") > 0,
                (F.col("new_users") + F.col("resurrected")).cast("double")
                / F.col("churned"),
            ),
            6,
        ).alias("quick_ratio"),
    )


# --------------------------------------------------------------------------
# Shift-share decomposition of half-over-half value growth
# --------------------------------------------------------------------------

_SS_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events),
halves AS (
  SELECT e.event_type,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 < b.lo + b.hi
             THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS v1,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
             THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS v2
  FROM events e CROSS JOIN bounds b
  GROUP BY 1),
tot AS (
  SELECT CAST(sum(v1) AS BIGINT) AS t1, CAST(sum(v2) AS BIGINT) AS t2
  FROM halves)
SELECT h.event_type,
  round(h.v1 / 100.0, 6) AS value_h1,
  round(h.v2 / 100.0, 6) AS value_h2,
  round((h.v2 - h.v1) / 100.0, 6) AS delta,
  -- within component: segment growth at its H1 share of the total
  round((CAST(h.v1 AS DOUBLE) / t.t1) * (t.t2 - t.t1) / 100.0, 6)
    AS expected_at_mix,
  round((h.v2 - h.v1 - (CAST(h.v1 AS DOUBLE) / t.t1) * (t.t2 - t.t1))
        / 100.0, 6) AS mix_shift,
  round(CAST(h.v2 AS DOUBLE) / t.t2 - CAST(h.v1 AS DOUBLE) / t.t1, 6)
    AS share_change
FROM halves h CROSS JOIN tot t
"""


@register("shift_share_decomposition", oracle=_SS_ORACLE)
def shift_share_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of half-over-half value growth per
    event type: each segment's observed delta splits into the growth
    it would have had at the aggregate rate (holding H1 mix fixed)
    and the residual mix shift — the index-decomposition that answers
    'did revenue grow because everything grew, or because the mix
    moved toward this segment', with the share change riding along.

    Determinism and scale: one conditional reduce per type against
    the exact integer-microsecond midpoint (the Chapman/McNemar
    split); totals broadcast back; every readout is a single
    identically-shaped double over exact BIGINTs.
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"), F.max(us).cast("long").alias("hi")
    )
    cents = round_long(F.col("value") * 100)
    first = us * 2 < F.col("lo") + F.col("hi")
    halves = (
        e.transform(with_scalars, bounds)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(first, cents).otherwise(0)).cast("long").alias("v1"),
            F.sum(F.when(~first, cents).otherwise(0)).cast("long").alias("v2"),
        )
    )
    tot = halves.agg(
        F.sum("v1").cast("long").alias("t1"),
        F.sum("v2").cast("long").alias("t2"),
    )
    out = halves.transform(with_scalars, tot)
    share1 = F.col("v1").cast("double") / F.col("t1")
    expected = share1 * (F.col("t2") - F.col("t1"))
    return out.select(
        "event_type",
        F.round(F.col("v1") / 100.0, 6).alias("value_h1"),
        F.round(F.col("v2") / 100.0, 6).alias("value_h2"),
        F.round((F.col("v2") - F.col("v1")) / 100.0, 6).alias("delta"),
        F.round(expected / 100.0, 6).alias("expected_at_mix"),
        F.round(
            (F.col("v2") - F.col("v1") - expected) / 100.0, 6
        ).alias("mix_shift"),
        F.round(
            F.col("v2").cast("double") / F.col("t2") - share1, 6
        ).alias("share_change"),
    )


# --------------------------------------------------------------------------
# Association rules (directed confidence/leverage/conviction panel)
# --------------------------------------------------------------------------

_RULES_ORACLE = f"""
WITH assoc0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
assoc AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM assoc0)
  WHERE bsz <= {_DEFAULT_MAX_BASKET}),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM assoc),
marg AS (
  SELECT l_partkey, count(*) AS n_part FROM assoc GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
top AS (
  SELECT p.part_a, p.part_b, p.n_both,
         ma.n_part AS n_a, mb.n_part AS n_b, n.n_orders
  FROM pairs p
  JOIN marg ma ON p.part_a = ma.l_partkey
  JOIN marg mb ON p.part_b = mb.l_partkey
  CROSS JOIN n
  ORDER BY n_both DESC, part_a, part_b
  LIMIT {_AFFINITY_TOPK}),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent,
         n_both, n_a AS n_ante, n_b AS n_cons, n_orders FROM top
  UNION ALL
  SELECT part_b, part_a, n_both, n_b, n_a, n_orders FROM top)
SELECT antecedent, consequent,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_ante AS BIGINT) AS n_ante,
       CAST(n_cons AS BIGINT) AS n_cons,
       round(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
       round(CAST(n_both AS DOUBLE) / n_ante, 6) AS confidence,
       round(CAST(n_both AS DOUBLE) * n_orders / n_ante / n_cons, 6)
         AS lift,
       round(CAST(n_both AS DOUBLE) / n_orders
             - CAST(n_ante AS DOUBLE) / n_orders
               * (CAST(n_cons AS DOUBLE) / n_orders), 6) AS leverage,
       CASE WHEN n_both < n_ante THEN
         round((1e0 - CAST(n_cons AS DOUBLE) / n_orders)
               / (1e0 - CAST(n_both AS DOUBLE) / n_ante), 6)
       END AS conviction
FROM rules
"""


@register("association_rules", oracle=_RULES_ORACLE)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association-rule panel over the top co-purchased part
    pairs: for each direction antecedent -> consequent, the full
    Apriori metric set — support, confidence, lift, leverage, and
    conviction (how much more often the antecedent appears WITHOUT
    the consequent under independence than observed; null when
    confidence = 1). ``copurchase_lift`` ranks the pairs; this is the
    rule table a merchandiser actually reads, since lift is symmetric
    but confidence/conviction are NOT (buying the accessory predicts
    the phone far better than the reverse).

    Scale shape: identical to copurchase_lift up through the top-k —
    the shared ``_marginal_pair_counts`` expansion (marginals attached
    pre-expansion, self-sized shuffle, capped baskets) and a
    TakeOrderedAndProject top-25; the two rule directions then fan out
    MAP-SIDE from the 25-row frame (explode of a 2-struct literal
    array — no union rescan, no join). Every metric is one mirrored
    float expression over exact BIGINT counts."""
    li = load_table(spark, sf_dir, "lineitem")
    assoc, raw = _basket_universe(li, _DEFAULT_MAX_BASKET)
    n = assoc.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pairs, _ = _marginal_pair_counts(assoc, bound_src=raw)
    top = (
        pairs.transform(with_scalars, n)
        .orderBy(F.desc("n_both"), F.asc("part_a"), F.asc("part_b"))
        .limit(_AFFINITY_TOPK)
    )
    fwd = F.struct(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        F.col("n_a").alias("n_ante"),
        F.col("n_b").alias("n_cons"),
    )
    rev = F.struct(
        F.col("part_b").alias("antecedent"),
        F.col("part_a").alias("consequent"),
        F.col("n_b").alias("n_ante"),
        F.col("n_a").alias("n_cons"),
    )
    r = top.select(
        F.explode(F.array(fwd, rev)).alias("r"), "n_both", "n_orders"
    ).select(
        F.col("r")["antecedent"].alias("antecedent"),
        F.col("r")["consequent"].alias("consequent"),
        F.col("n_both").cast("long").alias("n_both"),
        F.col("r")["n_ante"].cast("long").alias("n_ante"),
        F.col("r")["n_cons"].cast("long").alias("n_cons"),
        "n_orders",
    )
    nb = F.col("n_both").cast("double")
    return r.select(
        "antecedent",
        "consequent",
        "n_both",
        "n_ante",
        "n_cons",
        F.round(nb / F.col("n_orders"), 6).alias("support"),
        F.round(nb / F.col("n_ante"), 6).alias("confidence"),
        F.round(
            nb * F.col("n_orders") / F.col("n_ante") / F.col("n_cons"), 6
        ).alias("lift"),
        F.round(
            nb / F.col("n_orders")
            - F.col("n_ante").cast("double")
            / F.col("n_orders")
            * (F.col("n_cons").cast("double") / F.col("n_orders")),
            6,
        ).alias("leverage"),
        F.when(
            F.col("n_both") < F.col("n_ante"),
            F.round(
                (
                    F.lit(1e0)
                    - F.col("n_cons").cast("double") / F.col("n_orders")
                )
                / (F.lit(1e0) - nb / F.col("n_ante")),
                6,
            ),
        ).alias("conviction"),
    )


# --------------------------------------------------------------------------
# Recommender-quality audit: coverage / novelty / brand diversity
# --------------------------------------------------------------------------

_RECSYS_ORACLE = f"""
WITH assoc0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
assoc AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM assoc0)
  WHERE bsz <= {_DEFAULT_MAX_BASKET}),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM assoc),
marg AS (
  SELECT l_partkey, count(*) AS n_part FROM assoc GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
sym AS (
  SELECT part_a AS item, part_b AS rec, n_both FROM pairs
  UNION ALL
  SELECT part_b AS item, part_a AS rec, n_both FROM pairs),
scored AS (
  SELECT s.item, s.rec,
         CAST(round(CAST(s.n_both AS DOUBLE)
                    / sqrt(CAST(mi.n_part AS DOUBLE) * mr.n_part) * 1e6)
              AS BIGINT) / 1e6 AS cosine
  FROM sym s
  JOIN marg mi ON s.item = mi.l_partkey
  JOIN marg mr ON s.rec = mr.l_partkey),
topk AS (
  SELECT item, rec FROM (
    SELECT *, row_number() OVER (
      PARTITION BY item ORDER BY cosine DESC, rec ASC) AS rnk
    FROM scored)
  WHERE rnk <= {_CF_TOPK}),
novel AS (
  SELECT CAST(round(ln(CAST(n.n_orders AS DOUBLE) / m.n_part) * 1e6)
              AS BIGINT) AS lp
  FROM topk JOIN marg m ON topk.rec = m.l_partkey CROSS JOIN n),
novstats AS (
  SELECT CAST(sum(lp) AS BIGINT) AS nov_s, count(*) AS nov_c FROM novel),
ild AS (
  SELECT topk.item,
         CAST(round(CAST(count(DISTINCT p.p_brand) AS DOUBLE)
                    / count(*) * 1e6) AS BIGINT) AS rm
  FROM topk JOIN part p ON topk.rec = p.p_partkey
  GROUP BY topk.item),
ildstats AS (
  SELECT CAST(sum(rm) AS BIGINT) AS ild_s, count(*) AS ild_c FROM ild),
base AS (
  SELECT count(DISTINCT item) AS n_items,
         count(*) AS n_rec_edges,
         count(DISTINCT rec) AS n_distinct_recs
  FROM topk),
cat AS (SELECT count(*) AS n_catalog FROM marg)
SELECT CAST(n_catalog AS BIGINT) AS n_catalog,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(n_rec_edges AS BIGINT) AS n_rec_edges,
       round(CAST(n_distinct_recs AS DOUBLE) / n_catalog, 6)
         AS catalog_coverage,
       round(CAST(nov_s AS DOUBLE) / nov_c / 1e6, 6) AS mean_novelty,
       round(CAST(ild_s AS DOUBLE) / ild_c / 1e6, 6) AS brand_diversity
FROM base CROSS JOIN cat CROSS JOIN novstats CROSS JOIN ildstats
"""


@register("recsys_coverage_audit", oracle=_RECSYS_ORACLE)
def recsys_coverage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beyond-accuracy recommender audit (the novelty/diversity
    framework of Vargas & Castells, RecSys 2011) over the
    ``item_cf_topk`` output: catalog coverage (share of the purchasable
    catalog that EVER appears as a recommendation — low coverage =
    popularity feedback loop), mean novelty (self-information
    -ln(popularity) of recommended items: are we only recommending
    bestsellers?), and brand diversity (mean distinct-brand share per
    item's rec list). The one-row report that catches a recommender
    optimizing itself into a top-seller echo chamber — which cosine
    accuracy metrics cannot see.

    Parity: per-rec novelty and per-item diversity ratios micro-round
    to BIGINT before their means (exact sums under any order); the
    output ratios are single mirrored float expressions.

    Scale shape: everything up through the top-k is item_cf_topk's
    shared capped/self-sized pair expansion; the audit itself runs on
    the O(items x k) rec frame — a broadcast dim join (part brands), a
    marginal equi-join, and three tiny aggregates injected as scalar
    subqueries. No new fact-scale stage."""
    # Round 9 (§5): the rec frame is consumed by THREE readouts (novel,
    # ild, base), each a separate scalar subplan — unpinned, the whole
    # item_cf pair-expansion pipeline re-derived per consumer (262
    # Exchange refs, ~3x the CF cost at sf0.1). recs is O(items x k);
    # assoc (distinct + cap window over lineitem) likewise feeds two
    # aggregates (n_orders, marg) that each re-derived it. Pin both;
    # marg itself stays lazy (two cheap groupBys over the pinned
    # assoc beat a third pin job).
    recs = pin(item_cf_topk(spark, sf_dir).select("item", "rec"))
    li = load_table(spark, sf_dir, "lineitem")
    assoc = pin(
        _capped_baskets(
            li.select("l_orderkey", "l_partkey").distinct(),
            _DEFAULT_MAX_BASKET,
        )
    )
    n = assoc.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    marg = assoc.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    novel = (
        recs.join(marg, recs["rec"] == marg["l_partkey"])
        .transform(with_scalars, n)
        .select(
            round_long(
                F.log(
                    F.col("n_orders").cast("double") / F.col("n_part")
                )
                * 1e6
            )
            .alias("lp")
        )
    )
    novstats = novel.agg(
        F.sum("lp").cast("long").alias("nov_s"),
        F.count(F.lit(1)).alias("nov_c"),
    )
    ild = (
        recs.join(F.broadcast(part), recs["rec"] == part["p_partkey"])
        .groupBy("item")
        .agg(
            F.round(
                F.count_distinct("p_brand").cast("double")
                / F.count(F.lit(1))
                * 1e6
            )
            .cast("long")
            .alias("rm")
        )
    )
    ildstats = ild.agg(
        F.sum("rm").cast("long").alias("ild_s"),
        F.count(F.lit(1)).alias("ild_c"),
    )
    cat = marg.agg(F.count(F.lit(1)).cast("long").alias("n_catalog"))
    base = recs.agg(
        F.count_distinct("item").cast("long").alias("n_items"),
        F.count(F.lit(1)).cast("long").alias("n_rec_edges"),
        F.count_distinct("rec").cast("long").alias("n_distinct_recs"),
    )
    return (
        base.transform(with_scalars, cat)
        .transform(with_scalars, novstats)
        .transform(with_scalars, ildstats)
        .select(
            "n_catalog",
            "n_items",
            "n_rec_edges",
            F.round(
                F.col("n_distinct_recs").cast("double")
                / F.col("n_catalog"),
                6,
            ).alias("catalog_coverage"),
            F.round(
                F.col("nov_s").cast("double") / F.col("nov_c") / 1e6, 6
            ).alias("mean_novelty"),
            F.round(
                F.col("ild_s").cast("double") / F.col("ild_c") / 1e6, 6
            ).alias("brand_diversity"),
        )
    )
