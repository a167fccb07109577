"""Market-microstructure statistics battery (round 3, fifth session).

The reference dissertation studies LOBSTER order flow around iceberg
orders; this module adds the classic microstructure estimators its
literature review leans on, each over the repo's canonical LOB view
(io.lob_events — direction/size/price mapped deterministically onto
``events``): Roll's implied spread, Amihud illiquidity, Kyle's lambda,
realized + bipower volatility with the jump ratio, the Lo-MacKinlay
variance ratio, and volume-clock VPIN. All are per-``user_id``
(ticker-analog), so every window and aggregation partitions by the
same key a 1000-executor deployment would — no global state anywhere.

Parity strategy (repo standard): prices ride as integer cents, log
returns micro-round ONCE to BIGINT ("micro-nat" units) and every
cross-shuffle reduction is an exact integer sum; doubles appear only
in the final per-group display expression, written identically in
both engines. Residual risk is the documented half-ulp ln tie class
(~1e-9/term, see corpus_ops.unigram_logprob).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.exact import (
    CENTS_SQL,
    R6_SQL,
    lob_cents,
    r6,
    round_long,
)
from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators.regression import (
    moment_sums,
    scaled_comoment,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.queries.sqlgen import EVENTS_LOB_SQL


def _ln_micro(col):
    """round(ln(x)*1e6) as BIGINT — the repo's exact-evidence unit."""
    return round_long(F.log(col.cast("double")) * 1e6)


# null-guarded to MATCH Spark's F.log semantics (NULL for x <= 0):
# DuckDB's ln(0) RAISES instead (round-6 decimals fuzz — a zero-cents
# row reached the log-return range), so the oracle must null out
# non-positive arguments the same way the Spark helper does
_LN_MICRO_SQL = (
    "CASE WHEN ({x}) > 0 THEN "
    "CAST(round(ln(CAST({x} AS DOUBLE)) * 1e6) AS BIGINT) END"
)


# --------------------------------------------------------------------------
# Roll (1984) implied effective spread: 2*sqrt(-cov(dp_t, dp_{t-1}))
# --------------------------------------------------------------------------

_ROLL_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e),
d0 AS (
  SELECT user_id, event_id,
         cents - lag(cents) OVER (PARTITION BY user_id ORDER BY event_id)
           AS dp
  FROM lob),
d AS (
  SELECT user_id, dp,
         lag(dp) OVER (PARTITION BY user_id ORDER BY event_id) AS dp1
  FROM d0),
s AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(dp) AS BIGINT) AS sx, CAST(sum(dp1) AS BIGINT) AS sy,
         CAST(sum(dp * dp1) AS BIGINT) AS sxy
  FROM d WHERE dp IS NOT NULL AND dp1 IS NOT NULL GROUP BY 1),
c AS (
  SELECT user_id, n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * n) AS cov
  FROM s)
SELECT user_id, n,
  {R6_SQL.format(x="cov / 1e4")} AS dp_autocov,
  CASE WHEN cov < 0
       THEN {R6_SQL.format(x="2 * sqrt(-cov) / 100")}
  END AS roll_spread
FROM c
"""


@register("roll_spread", oracle=_ROLL_ORACLE)
def roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied effective spread per ticker-analog: s =
    2*sqrt(-cov(Δp_t, Δp_{t-1})) from the first-order autocovariance
    of successive price changes (bid-ask bounce makes it negative; a
    non-negative autocovariance yields NULL, the standard convention).

    Exactness: Δp is an exact integer cents difference over the
    per-key event_id window; n, ΣΔp, ΣΔp_lag, ΣΔpΔp_lag are exact
    BIGINT sums, so both engines feed identical integers into one
    display-only double expression (population autocovariance).

    Scale shape: one per-key ordered window (the same partitioning a
    per-ticker LOBSTER deployment shuffles by exactly once), then a
    map-side-combinable per-key aggregate. Integer headroom: |Δp| ≤
    ~1e6 cents, products ≤ 1e12, safe to ~1e6 events/key/day."""
    lob = lob_cents(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    d = lob.select(
        "user_id",
        "event_id",
        (F.col("cents") - F.lag("cents").over(w)).alias("dp"),
    ).withColumn("dp1", F.lag("dp").over(w))
    s = (
        d.filter(F.col("dp").isNotNull() & F.col("dp1").isNotNull())
        .groupBy("user_id")
        .agg(*moment_sums(F.col("dp"), F.col("dp1")))
    )
    nd = F.col("n").cast("double")
    cov_num = scaled_comoment("n", "sxy", "sx", "sy")
    cov = cov_num / (nd * F.col("n"))
    return s.select(
        "user_id",
        "n",
        r6(cov / 1e4).alias("dp_autocov"),
        F.when(cov < 0, r6(2 * F.sqrt(-cov) / 100)).alias("roll_spread"),
    )


# --------------------------------------------------------------------------
# Amihud (2002) illiquidity: mean over days of |daily return| / dollar volume
# --------------------------------------------------------------------------

_AMIHUD_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, ts, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e),
d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         min_by(cents, event_id) AS first_cents,
         max_by(cents, event_id) AS last_cents,
         CAST(sum(cents * cents) AS BIGINT) AS dv_cents2
  FROM lob GROUP BY 1, 2),
r AS (
  SELECT user_id,
         CAST(round(CAST(abs({_LN_MICRO_SQL.format(x="last_cents")}
                             - {_LN_MICRO_SQL.format(x="first_cents")})
                         AS DOUBLE)
                    / (CAST(dv_cents2 AS DOUBLE) / 1e4) * 1e6)
              AS BIGINT) AS illiq_micro
  FROM d
  WHERE first_cents > 0 AND last_cents > 0 AND dv_cents2 > 0)
SELECT user_id, count(*) AS n_days,
       CAST(sum(illiq_micro) AS BIGINT) AS illiq_micro_sum,
       {R6_SQL.format(x="CAST(sum(illiq_micro) AS DOUBLE) / count(*) / 1e6")}
         AS amihud_illiq
FROM r GROUP BY 1
"""


@register("amihud_illiquidity", oracle=_AMIHUD_ORACLE)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud's illiquidity ratio per ticker-analog: the mean over
    days of |daily log return| / dollar volume (price*size summed in
    exact cents² units, /1e4 to dollars²-analog). The price-impact-
    per-dollar proxy the iceberg literature benchmarks Kyle's lambda
    against.

    Exactness: the daily return is a difference of micro-rounded lns
    of exact first/last cents (min_by/max_by on event_id — total
    order); each day's ratio is ONE double division of exact integers
    micro-rounded back to BIGINT, so the across-days mean sums exact
    integers (order-free) and divides at display.

    Scale shape: one (key, day) map-side-combinable aggregate — the
    natural partition-pruned unit of a per-ticker-per-day LOBSTER
    layout — then an O(days) per-key rollup. No windows, no joins."""
    lob = lob_cents(spark, sf_dir)
    d = lob.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.min_by("cents", "event_id").alias("first_cents"),
        F.max_by("cents", "event_id").alias("last_cents"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("dv_cents2"),
    )
    ret_micro = F.abs(
        _ln_micro(F.col("last_cents")) - _ln_micro(F.col("first_cents"))
    )
    r = d.filter(
        (F.col("first_cents") > 0)
        & (F.col("last_cents") > 0)
        & (F.col("dv_cents2") > 0)
    ).select(
        "user_id",
        round_long(
            ret_micro.cast("double") / (F.col("dv_cents2").cast("double") / 1e4) * 1e6
        )
        .alias("illiq_micro"),
    )
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("illiq_micro").cast("long").alias("illiq_micro_sum"),
        r6(F.sum("illiq_micro").cast("double") / F.count(F.lit(1)) / 1e6).alias(
            "amihud_illiq"
        ),
    )


# --------------------------------------------------------------------------
# Kyle (1985) lambda: OLS slope of binned price change on signed volume
# --------------------------------------------------------------------------

_KYLE_DELTA = 3600

_KYLE_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, ts, direction, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e),
b AS (
  SELECT user_id, {bin_end_sql("ts", _KYLE_DELTA)} AS bin,
         CAST(max_by(cents, event_id) - min_by(cents, event_id) AS BIGINT)
           AS dp,
         CAST(sum(direction * cents) AS BIGINT) AS sv
  FROM lob GROUP BY 1, 2),
s AS (
  SELECT user_id, count(*) AS n_bins,
         CAST(sum(sv) AS BIGINT) AS sx, CAST(sum(dp) AS BIGINT) AS sy,
         CAST(sum(sv * dp) AS BIGINT) AS sxy,
         CAST(sum(sv * sv) AS BIGINT) AS sxx
  FROM b GROUP BY 1),
c AS (
  SELECT user_id, n_bins, sx, sy,
         (CAST(n_bins AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n_bins AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           AS slope
  FROM s
  WHERE (CAST(n_bins AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) <> 0)
SELECT user_id, n_bins,
  {R6_SQL.format(x="slope * 1e6")} AS kyle_lambda_x1e6,
  {R6_SQL.format(
      x="(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))"
        " / CAST(n_bins AS DOUBLE) / 100")}
    AS intercept_dollars
FROM c
"""


@register("kyle_lambda", oracle=_KYLE_ORACLE)
def kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per ticker-analog: the OLS slope of the hourly
    price change (max_by - min_by cents over event_id — the bin's
    first-to-last move) on the hourly signed volume Σ direction*size.
    The canonical price-impact estimator the reference's iceberg
    detection chapter cites (informed flow moves price ~ lambda per
    unit signed volume). Reported ×1e6 so sf-scale slopes survive
    6-dp rounding.

    Exactness: dp and sv are exact per-bin BIGINTs; the per-key OLS
    moments (n, Σx, Σy, Σxy, Σx²) are exact integer sums; the slope/
    intercept expression is display-only double, identical both
    sides. Degenerate keys (zero signed-volume variance) are dropped
    in both engines.

    Scale shape: one (key, bin) map-side-combinable aggregate, then an
    O(bins) per-key reduction — two shuffles total, both on the
    per-ticker key; nothing global. Integer headroom: |sv| ≤ 1e8 per
    key-bin at test scale, Σsv² ≤ ~1e17; re-bin or rescale cents for
    ticks denser than ~1e4 events/key/hour."""
    lob = lob_cents(spark, sf_dir)
    b = lob.groupBy(
        "user_id", bin_end("ts", _KYLE_DELTA).alias("bin")
    ).agg(
        (F.max_by("cents", "event_id") - F.min_by("cents", "event_id"))
        .cast("long")
        .alias("dp"),
        F.sum(F.col("direction") * F.col("cents")).cast("long").alias("sv"),
    )
    s = b.groupBy("user_id").agg(*moment_sums(F.col("sv"), F.col("dp")))
    nd = F.col("n").cast("double")
    num = scaled_comoment("n", "sxy", "sx", "sy")
    den = scaled_comoment("n", "sxx", "sx", "sx")
    slope = num / den
    return s.filter(den != 0).select(
        "user_id",
        F.col("n").alias("n_bins"),
        r6(slope * 1e6).alias("kyle_lambda_x1e6"),
        r6(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / nd
            / 100
        ).alias("intercept_dollars"),
    )


# --------------------------------------------------------------------------
# Realized volatility + bipower variation (jump detection)
# --------------------------------------------------------------------------

_RBV_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, ts, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e WHERE {CENTS_SQL} > 0),
r AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         {_LN_MICRO_SQL.format(x="cents")}
           - lag({_LN_MICRO_SQL.format(x="cents")})
             OVER (PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY event_id) AS r_micro
  FROM lob),
rr AS (
  SELECT user_id, day, r_micro,
         lag(r_micro) OVER (PARTITION BY user_id, day ORDER BY r_micro)
           AS r_micro_1
  FROM r WHERE r_micro IS NOT NULL),
s AS (
  SELECT user_id, day, count(*) AS n_rets,
         CAST(sum(r_micro * r_micro) AS BIGINT) AS rv_micro2,
         CAST(sum(CASE WHEN r_micro_1 IS NOT NULL
                       THEN abs(r_micro) * abs(r_micro_1) ELSE 0 END)
              AS BIGINT) AS bp_micro2
  FROM rr GROUP BY 1, 2)
SELECT user_id, day, n_rets,
       {R6_SQL.format(x="CAST(rv_micro2 AS DOUBLE) / 1e12")} AS realized_var,
       {R6_SQL.format(x="pi() / 2 * CAST(bp_micro2 AS DOUBLE) / 1e12")}
         AS bipower_var,
       CASE WHEN rv_micro2 > 0
            THEN {R6_SQL.format(
                x="greatest(0.0, (CAST(rv_micro2 AS DOUBLE)"
                  " - pi() / 2 * CAST(bp_micro2 AS DOUBLE))"
                  " / CAST(rv_micro2 AS DOUBLE))")}
       END AS jump_ratio
FROM s
"""


@register("realized_bipower_vol", oracle=_RBV_ORACLE)
def realized_bipower_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (ticker-analog, day): realized variance Σr², bipower
    variation (π/2)Σ|r_t||r_{t-1}| (Barndorff-Nielsen & Shephard),
    and the relative jump contribution max(0, (RV-BPV)/RV) — the
    standard jump-vs-diffusion decomposition of intraday volatility.

    Determinism note: BPV needs ADJACENT |r| products, but adjacency
    for equal-magnitude neighbors is engine-arbitrary under ties; the
    portable convention here orders each day's returns BY VALUE
    (r_micro, an exact integer — a deterministic total order within a
    (key, day) after the repo's micro-rounding, up to exact integer
    ties which commute under multiplication) and takes adjacent
    products in that order. Σ|r_(i)||r_(i-1)| over the sorted sequence
    is a valid bipower estimator (consecutive order statistics), and
    is bit-stable cross-engine.

    Exactness: r_micro is a difference of micro-rounded lns of exact
    cents; RV and BPV accumulate exact BIGINT micro² units; pi()/2
    and the /1e12 rescale are display-only.

    Scale shape: two windows and one aggregate, all partitioned by
    (key, day) — the LOBSTER per-ticker-per-day file unit — so state
    never crosses the natural shard boundary."""
    lob = (
        lob_cents(spark, sf_dir)
        .filter(F.col("cents") > 0)
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    wseq = Window.partitionBy("user_id", "day").orderBy("event_id")
    r = lob.select(
        "user_id",
        "day",
        (_ln_micro(F.col("cents")) - F.lag(_ln_micro(F.col("cents"))).over(wseq))
        .alias("r_micro"),
    ).filter(F.col("r_micro").isNotNull())
    wval = Window.partitionBy("user_id", "day").orderBy("r_micro")
    rr = r.withColumn("r_micro_1", F.lag("r_micro").over(wval))
    s = rr.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_rets"),
        F.sum(F.col("r_micro") * F.col("r_micro"))
        .cast("long")
        .alias("rv_micro2"),
        F.sum(
            F.when(
                F.col("r_micro_1").isNotNull(),
                F.abs(F.col("r_micro")) * F.abs(F.col("r_micro_1")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bp_micro2"),
    )
    half_pi = F.lit(math.pi) / 2
    return s.select(
        "user_id",
        "day",
        "n_rets",
        r6(F.col("rv_micro2").cast("double") / 1e12).alias("realized_var"),
        r6(half_pi * F.col("bp_micro2").cast("double") / 1e12).alias(
            "bipower_var"
        ),
        F.when(
            F.col("rv_micro2") > 0,
            r6(
                F.greatest(
                    F.lit(0.0),
                    (
                        F.col("rv_micro2").cast("double")
                        - half_pi * F.col("bp_micro2").cast("double")
                    )
                    / F.col("rv_micro2").cast("double"),
                )
            ),
        ).alias("jump_ratio"),
    )


# --------------------------------------------------------------------------
# Lo-MacKinlay variance ratio over binned log returns
# --------------------------------------------------------------------------

_VR_Q = 4
_VR_DELTA = 3600

_VR_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, ts, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e WHERE {CENTS_SQL} > 0),
b AS (
  SELECT user_id, {bin_end_sql("ts", _VR_DELTA)} AS bin,
         {_LN_MICRO_SQL.format(x="max_by(cents, event_id)")}
           - {_LN_MICRO_SQL.format(x="min_by(cents, event_id)")} AS r_micro
  FROM lob GROUP BY 1, 2),
q AS (
  SELECT user_id, r_micro,
         CAST(sum(r_micro) OVER (PARTITION BY user_id ORDER BY bin
                                 ROWS BETWEEN {_VR_Q - 1} PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS rq_micro,
         count(*) OVER (PARTITION BY user_id ORDER BY bin
                        ROWS BETWEEN {_VR_Q - 1} PRECEDING AND CURRENT ROW)
           AS wn
  FROM b),
s1 AS (
  SELECT user_id, count(*) AS n1,
         CAST(sum(r_micro) AS BIGINT) AS s1x,
         CAST(sum(r_micro * r_micro) AS BIGINT) AS s1xx
  FROM q GROUP BY 1),
sq AS (
  SELECT user_id, count(*) AS nq,
         CAST(sum(rq_micro) AS BIGINT) AS sqx,
         CAST(sum(rq_micro * rq_micro) AS BIGINT) AS sqxx
  FROM q WHERE wn = {_VR_Q} GROUP BY 1)
SELECT s1.user_id, n1, nq,
  {R6_SQL.format(
      x=f"(CAST(nq AS DOUBLE) * sqxx - CAST(sqx AS DOUBLE) * sqx)"
        f" / (CAST(nq AS DOUBLE) * nq)"
        f" / ({_VR_Q} * (CAST(n1 AS DOUBLE) * s1xx"
        f" - CAST(s1x AS DOUBLE) * s1x) / (CAST(n1 AS DOUBLE) * n1))")}
    AS variance_ratio
FROM s1 JOIN sq ON s1.user_id = sq.user_id
WHERE (CAST(n1 AS DOUBLE) * s1xx - CAST(s1x AS DOUBLE) * s1x) <> 0
"""


@register("variance_ratio", oracle=_VR_ORACLE)
def variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio VR(q={q}) per ticker-analog over
    hourly intra-bin log returns: Var(q-period rolling-sum return) /
    (q * Var(1-period)). VR far below 1 signals mean reversion
    (bid-ask bounce), far above 1 momentum — the random-walk
    diagnostic the microstructure chapter applies before fitting
    impact regressions.

    Exactness: per-bin returns are micro-int ln differences of exact
    first/last... of exact max/min-by cents; the q-period return is an
    exact integer window sum; both population variances come from
    exact integer moment sums; one display-only double expression.

    Scale shape: (key, bin) aggregate, one per-key O(bins) rolling
    window, two per-key reductions, one per-key join of O(keys)
    frames. All state is per-key.""".format(q=_VR_Q)
    lob = lob_cents(spark, sf_dir).filter(F.col("cents") > 0)
    b = lob.groupBy(
        "user_id", bin_end("ts", _VR_DELTA).alias("bin")
    ).agg(
        (
            _ln_micro(F.max_by("cents", "event_id"))
            - _ln_micro(F.min_by("cents", "event_id"))
        ).alias("r_micro")
    )
    wq = (
        Window.partitionBy("user_id")
        .orderBy("bin")
        .rowsBetween(-(_VR_Q - 1), Window.currentRow)
    )
    q = b.select(
        "user_id",
        "r_micro",
        F.sum("r_micro").over(wq).cast("long").alias("rq_micro"),
        F.count(F.lit(1)).over(wq).alias("wn"),
    )
    s1 = q.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("r_micro").cast("long").alias("s1x"),
        F.sum(F.col("r_micro") * F.col("r_micro")).cast("long").alias("s1xx"),
    )
    sq = (
        q.filter(F.col("wn") == _VR_Q)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("nq"),
            F.sum("rq_micro").cast("long").alias("sqx"),
            F.sum(F.col("rq_micro") * F.col("rq_micro"))
            .cast("long")
            .alias("sqxx"),
        )
    )
    n1d = F.col("n1").cast("double")
    nqd = F.col("nq").cast("double")
    var1 = (n1d * F.col("s1xx") - F.col("s1x").cast("double") * F.col("s1x")) / (
        n1d * F.col("n1")
    )
    varq = (nqd * F.col("sqxx") - F.col("sqx").cast("double") * F.col("sqx")) / (
        nqd * F.col("nq")
    )
    return (
        s1.join(sq, "user_id")
        .filter(
            (n1d * F.col("s1xx") - F.col("s1x").cast("double") * F.col("s1x"))
            != 0
        )
        .select(
            "user_id",
            "n1",
            "nq",
            r6(varq / (_VR_Q * var1)).alias("variance_ratio"),
        )
    )


# --------------------------------------------------------------------------
# VPIN: volume-clock buy/sell imbalance (Easley, Lopez de Prado, O'Hara)
# --------------------------------------------------------------------------

_VPIN_BUCKET_CENTS = 500_000  # $5,000 volume clock per bucket

_VPIN_ORACLE = f"""
WITH lob AS (SELECT user_id, event_id, direction, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e),
c AS (
  SELECT user_id, direction, cents,
         CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM lob),
k AS (
  SELECT user_id, greatest(cum - 1, 0) // {_VPIN_BUCKET_CENTS} AS bucket,
         direction, cents
  FROM c),
b AS (
  SELECT user_id, bucket,
         CAST(sum(CASE WHEN direction = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS buy_cents,
         CAST(sum(CASE WHEN direction = -1 THEN cents ELSE 0 END) AS BIGINT)
           AS sell_cents
  FROM k GROUP BY 1, 2)
SELECT user_id, count(*) AS n_buckets,
       CAST(sum(abs(buy_cents - sell_cents)) AS BIGINT) AS imb_cents,
       CAST(sum(buy_cents + sell_cents) AS BIGINT) AS vol_cents,
       {R6_SQL.format(
           x="CAST(sum(abs(buy_cents - sell_cents)) AS DOUBLE)"
             " / sum(buy_cents + sell_cents)")} AS vpin
FROM b GROUP BY 1
"""


@register("vpin", oracle=_VPIN_ORACLE)
def vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN per ticker-analog: partition each key's flow into equal-
    volume buckets via the volume clock (running Σ size in cents,
    integer-floor bucket ids), then average |buy - sell| / total
    across buckets — the flow-toxicity metric built for exactly the
    informed-trading detection problem the iceberg dissertation
    studies.

    Exactness: END-TO-END integer — the volume clock, bucket ids,
    per-bucket buy/sell sums and the final numerator/denominator are
    all exact BIGINTs; the single division happens at display. No
    rounding anywhere before it.

    Scale shape: one per-key ordered running sum (the unavoidable
    volume-clock sequential dependency, confined to its key
    partition), then two map-side-combinable aggregates. The bucket
    constant is absolute (cents), so bucket counts grow with per-key
    volume, not row count."""
    lob = lob_cents(spark, sf_dir)
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = lob.select(
        "user_id",
        "direction",
        "cents",
        F.sum("cents").over(wcum).cast("long").alias("cum"),
    )
    k = c.select(
        "user_id",
        # greatest(..., 0): a zero-volume PREFIX row (cents = 0 before
        # any volume) has cum = 0; without the clamp Spark's floor sends
        # it to bucket -1 while DuckDB's // TRUNCATES -1/B to 0 (round-6
        # decimals fuzz) — clamping pins 'clock not started' to bucket 0
        # on both engines
        F.floor(
            F.greatest(F.col("cum") - 1, F.lit(0)) / _VPIN_BUCKET_CENTS
        ).alias("bucket"),
        "direction",
        "cents",
    )
    b = k.groupBy("user_id", "bucket").agg(
        F.sum(F.when(F.col("direction") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("buy_cents"),
        F.sum(F.when(F.col("direction") == -1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sell_cents"),
    )
    return b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.abs(F.col("buy_cents") - F.col("sell_cents")))
        .cast("long")
        .alias("imb_cents"),
        F.sum(F.col("buy_cents") + F.col("sell_cents"))
        .cast("long")
        .alias("vol_cents"),
        r6(
            F.sum(F.abs(F.col("buy_cents") - F.col("sell_cents"))).cast(
                "double"
            )
            / F.sum(F.col("buy_cents") + F.col("sell_cents"))
        ).alias("vpin"),
    )


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test on the densified hourly OI series
# --------------------------------------------------------------------------

_LB_LAGS = (1, 2, 3, 4, 5)
_LB_DELTA = 3600


def _lb_oracle() -> str:
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents_sql

    lag_blocks = "\nUNION ALL\n".join(
        f"""
SELECT {k} AS lag_k, count(*) AS n_k,
       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       CAST(sum(x * y) AS BIGINT) AS sxy,
       CAST(sum(x * x) AS BIGINT) AS sxx,
       CAST(sum(y * y) AS BIGINT) AS syy
FROM (SELECT oi_micro AS x,
             lag(oi_micro, {k}) OVER (ORDER BY bin) AS y FROM m) q{k}
WHERE y IS NOT NULL
"""
        for k in _LB_LAGS
    )
    return f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", _LB_DELTA)} AS bin,
         {_oi_cents_sql("TRUE")} AS oi
  FROM lob GROUP BY 1),
grid AS (
  SELECT unnest(generate_series((SELECT min(bin) FROM b),
                                (SELECT max(bin) FROM b),
                                INTERVAL {_LB_DELTA} SECOND)) AS bin),
m AS (
  SELECT g.bin,
         CAST(round(coalesce(b.oi, 0) * 1e6) AS BIGINT) AS oi_micro
  FROM grid g LEFT JOIN b ON g.bin = b.bin),
lags AS ({lag_blocks}),
c AS (
  SELECT lag_k, n_k,
         (CAST(n_k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n_k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n_k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS rho
  FROM lags),
e AS (
  SELECT lag_k, n_k,
         CAST(round(rho * rho / n_k * 1e12) AS BIGINT) AS contrib_pico
  FROM c)
SELECT CAST(max(n_k + lag_k) AS BIGINT) AS n_series,
       CAST({len(_LB_LAGS)} AS BIGINT) AS df,
       CAST(sum(contrib_pico) AS BIGINT) AS contrib_pico_sum,
       {R6_SQL.format(
           x="CAST(max(n_k + lag_k) AS DOUBLE) * (max(n_k + lag_k) + 2)"
             " * (CAST(sum(contrib_pico) AS DOUBLE) / 1e12)")} AS lb_q
FROM e
"""


@register("ljung_box_oi", oracle=_lb_oracle())
def ljung_box_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic Q = n(n+2) Σ_k ρ̂_k²/(n-k) over
    lags 1..5 of the densified hourly OI series — the whiteness test
    the reference's timeseries chapter (timeseries_analysis.ipynb)
    applies before trusting ACF-based signals; pairs with oi_acf.

    Exactness: OI ratios (already exact-int-derived doubles) are
    micro-rounded ONCE to BIGINT; each lag's correlation moments are
    exact integer sums; ρ_k and its pico-rounded contribution
    ρ²/(n-k) are single identical double expressions, so the 5-term
    reduction is an exact integer sum (order-free — summing the raw
    doubles would be aggregation-order-dependent). On the contiguous
    densified grid, lag-k pair count is exactly n-k, so n_series
    recovers as n_k + k with NO 1-row cross join.

    Scale shape: fact-scale work is one map-side-combinable binned
    aggregate; everything after runs on the O(bins) frame (720 rows
    at sf0.1 — a documented bounded single-partition window, same
    class as oi_acf)."""
    from dissertation_iceberg_spark.operators.order_imbalance import densify
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents

    lob = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    b = (
        lob.withColumn("bin", bin_end("ts", _LB_DELTA))
        .groupBy("bin")
        .agg(_oi_cents(d, c, F.lit(True)).alias("oi"))
    )
    m = densify(b, _LB_DELTA, zero_fill=("oi",)).select(
        "bin", round_long(F.col("oi") * 1e6).alias("oi_micro")
    )
    w = Window.orderBy("bin")
    parts = []
    for k in _LB_LAGS:
        q = m.select(
            F.col("oi_micro").alias("x"),
            F.lag("oi_micro", k).over(w).alias("y"),
        ).filter(F.col("y").isNotNull())
        parts.append(
            q.agg(*moment_sums(F.col("x"), F.col("y"))).select(
                F.lit(k).alias("lag_k"), "*"
            )
        )
    lags = parts[0]
    for p in parts[1:]:
        lags = lags.unionByName(p)
    rho = scaled_comoment("n", "sxy", "sx", "sy") / F.sqrt(
        scaled_comoment("n", "sxx", "sx", "sx")
        * scaled_comoment("n", "syy", "sy", "sy")
    )
    e = lags.select(
        "lag_k",
        F.col("n").alias("n_k"),
        round_long(rho * rho / F.col("n") * 1e12).alias(
            "contrib_pico"
        ),
    )
    nmax = F.max(F.col("n_k") + F.col("lag_k"))
    return e.agg(
        nmax.cast("long").alias("n_series"),
        F.lit(len(_LB_LAGS)).cast("long").alias("df"),
        F.sum("contrib_pico").cast("long").alias("contrib_pico_sum"),
        r6(
            nmax.cast("double")
            * (nmax + 2)
            * (F.sum("contrib_pico").cast("double") / 1e12)
        ).alias("lb_q"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test on per-type daily flow
# --------------------------------------------------------------------------

_MK_ORACLE = f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({CENTS_SQL}) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, count(*) AS t FROM d GROUP BY event_type, v) q
  GROUP BY 1),
n AS (SELECT event_type, count(*) AS n_days FROM d GROUP BY 1),
v AS (
  SELECT n.event_type, n.n_days, p.s,
         (CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
          - tie_term) / 18 AS var_s
  FROM n JOIN pairs p ON n.event_type = p.event_type
  JOIN ties t ON n.event_type = t.event_type)
SELECT event_type, n_days, s AS s_stat,
       {R6_SQL.format(x="var_s")} AS var_s,
       CASE WHEN var_s > 0 THEN
         {R6_SQL.format(
             x="CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_s)"
               " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_s)"
               " ELSE 0.0 END")}
       END AS mk_z
FROM v
"""


@register("mann_kendall_trend", oracle=_MK_ORACLE)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over the daily
    flow series: S = Σ_{{i<j}} sign(v_j - v_i), tie-corrected variance
    Var(S) = [n(n-1)(2n+5) - Σ_t t(t-1)(2t+5)]/18, and the
    continuity-corrected z — the nonparametric drift detector that
    needs no distributional assumptions (complements theil_sen_slope,
    which estimates the magnitude this test scores).

    Exactness: daily sums ride as exact cents; sign comparisons and S
    are pure integer; tie counts are exact; the only doubles are the
    display-stage Var(S) and z with identical expressions both sides.

    Scale shape: the fact scan collapses to O(types × days) in one
    map-side-combinable aggregate; the O(days²) pair join runs per
    type on that bounded frame (~465 pairs/type-month — and at 100 TB
    the daily frame grows with CALENDAR time, not data volume, so the
    quadratic stays bounded; years of days ≈ 1e3 → 5e5 pairs/type,
    still trivial)."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum(round_long(F.col("value") * 100)).cast("long").alias("v"))
    )
    a = d.select("event_type", F.col("day").alias("day_a"), F.col("v").alias("v_a"))
    b = d.select("event_type", F.col("day").alias("day_b"), F.col("v").alias("v_b"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("v_b") > F.col("v_a"), 1)
                .when(F.col("v_b") < F.col("v_a"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        d.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    nd = F.col("n_days").cast("double")
    var_s = (nd * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5) - F.col("tie_term")) / 18
    sd = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        n.join(pairs, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("s").alias("s_stat"),
            r6(var_s).alias("var_s"),
            F.when(var_s > 0, r6(z)).alias("mk_z"),
        )
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of the hourly OI series
# --------------------------------------------------------------------------

_HURST_SIZES = (8, 16, 32, 64)
_HURST_DELTA = 3600


def _hurst_oracle() -> str:
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents_sql

    size_blocks = "\nUNION ALL\n".join(
        f"""
SELECT {m} AS m, count(*) AS n_blocks,
       CAST(sum(rs_micro) AS BIGINT) AS rs_micro_sum
FROM (
  SELECT blk,
         CAST(round(CAST(max(dev) - min(dev) AS DOUBLE)
                    / sqrt({m} * CAST(sum(x * x) AS BIGINT)
                           - CAST(max(cum) AS BIGINT) * max(cum)) * 1e6)
              AS BIGINT) AS rs_micro
  FROM (
    SELECT rn // {m} AS blk, x,
           CAST(sum(x) OVER (PARTITION BY rn // {m} ORDER BY rn
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           {m} * CAST(sum(x) OVER (PARTITION BY rn // {m} ORDER BY rn
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             - (rn % {m} + 1)
               * CAST(sum(x) OVER (PARTITION BY rn // {m}) AS BIGINT) AS dev
    FROM z WHERE rn < (SELECT count(*) FROM z) // {m} * {m})
  GROUP BY 1
  HAVING {m} * CAST(sum(x * x) AS BIGINT)
         - CAST(max(cum) AS BIGINT) * max(cum) > 0) b{m}
"""
        for m in _HURST_SIZES
    )
    return f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", _HURST_DELTA)} AS bin,
         {_oi_cents_sql("TRUE")} AS oi
  FROM lob GROUP BY 1),
grid AS (
  SELECT unnest(generate_series((SELECT min(bin) FROM b),
                                (SELECT max(bin) FROM b),
                                INTERVAL {_HURST_DELTA} SECOND)) AS bin),
z AS (
  SELECT CAST(round(coalesce(b.oi, 0) * 1e6) AS BIGINT) AS x,
         row_number() OVER (ORDER BY g.bin) - 1 AS rn
  FROM grid g LEFT JOIN b ON g.bin = b.bin),
sizes AS ({size_blocks}),
xy AS (
  SELECT m, n_blocks,
         CAST(round(CAST(rs_micro_sum AS DOUBLE) / n_blocks) AS BIGINT) / 1e6
           AS mean_rs,
         CAST(round(ln(CAST(m AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
         CAST(round(ln(CAST(rs_micro_sum AS DOUBLE) / n_blocks / 1e6) * 1e6)
              AS BIGINT) AS ly
  FROM sizes WHERE rs_micro_sum > 0)
SELECT m, n_blocks, mean_rs,
  {R6_SQL.format(
      x="(CAST(count(*) OVER () AS DOUBLE) * sum(CAST(lx AS DOUBLE) * ly)"
        " OVER () - CAST(sum(lx) OVER () AS DOUBLE) * sum(ly) OVER ())"
        " / (CAST(count(*) OVER () AS DOUBLE)"
        " * sum(CAST(lx AS DOUBLE) * lx) OVER ()"
        " - CAST(sum(lx) OVER () AS DOUBLE) * sum(lx) OVER ())")}
    AS hurst
FROM xy
"""


@register("hurst_exponent", oracle=_hurst_oracle())
def hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly OI series by rescaled-range (R/S)
    analysis: split the densified series into blocks of m ∈ {8,16,32,
    64}, compute each block's range-of-cumulative-deviations over its
    standard deviation, average per size, and fit ln(R/S) on ln(m) —
    H≈0.5 random walk, H>0.5 persistent (momentum), H<0.5
    anti-persistent (the bid-ask-bounce signature Roll's model
    predicts). Complements variance_ratio with a multi-scale view.

    Exactness: with x in exact micro-units, m·cum_k − k·tot is an
    exact integer cumulative deviation (the block mean never
    materializes as a double), and m·Σx² − tot² is an exact integer
    m²·variance — so each block's R/S is int/sqrt(int), micro-rounded
    once; per-size means are exact integer sums; the final log-log
    OLS consumes micro-rounded lns. Bit-stable across engines up to
    the documented ln half-ulp tie class.

    Scale shape: fact-scale work is the binned aggregate; the series
    frame is O(bins) (720 rows at sf0.1 — documented bounded
    single-partition class, like oi_acf/ljung_box); block windows are
    keyed by block id so even a years-long series would shard."""
    from dissertation_iceberg_spark.operators.order_imbalance import densify
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents

    lob = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    b = (
        lob.withColumn("bin", bin_end("ts", _HURST_DELTA))
        .groupBy("bin")
        .agg(_oi_cents(d, c, F.lit(True)).alias("oi"))
    )
    z = (
        densify(b, _HURST_DELTA, zero_fill=("oi",))
        .select(
            round_long(F.col("oi") * 1e6).alias("x"),
            (F.row_number().over(Window.orderBy("bin")) - 1).alias("rn"),
        )
        .withColumn("n_total", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    parts = []
    for m in _HURST_SIZES:
        zm = z.filter(F.col("rn") < F.floor(F.col("n_total") / m) * m)
        blk = (F.col("rn") / m).cast("long").alias("blk")
        wcum = (
            Window.partitionBy((F.col("rn") / m).cast("long"))
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy((F.col("rn") / m).cast("long"))
        rows = zm.select(
            blk,
            "x",
            F.sum("x").over(wcum).cast("long").alias("cum"),
            (
                m * F.sum("x").over(wcum).cast("long")
                - (F.col("rn") % m + 1) * F.sum("x").over(wall).cast("long")
            ).alias("dev"),
        )
        g = rows.groupBy("blk").agg(
            (F.max("dev") - F.min("dev")).alias("rng"),
            (
                m * F.sum(F.col("x") * F.col("x")).cast("long")
                - F.max("cum").cast("long") * F.max("cum")
            ).alias("m2var"),
        )
        rs = g.filter(F.col("m2var") > 0).select(
            round_long(
                F.col("rng").cast("double") / F.sqrt(F.col("m2var")) * 1e6
            )
            .alias("rs_micro")
        )
        parts.append(
            rs.agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("rs_micro").cast("long").alias("rs_micro_sum"),
            ).select(F.lit(m).alias("m"), "*")
        )
    sizes = parts[0]
    for p in parts[1:]:
        sizes = sizes.unionByName(p)
    xy = sizes.filter(F.col("rs_micro_sum") > 0).select(
        "m",
        "n_blocks",
        (
            round_long(F.col("rs_micro_sum").cast("double") / F.col("n_blocks"))
            / 1e6
        ).alias("mean_rs"),
        round_long(F.log(F.col("m").cast("double")) * 1e6)
        .alias("lx"),
        round_long(
            F.log(
                F.col("rs_micro_sum").cast("double") / F.col("n_blocks") / 1e6
            )
            * 1e6
        )
        .alias("ly"),
    )
    wg = Window.partitionBy()
    nd = F.count(F.lit(1)).over(wg).cast("double")
    sx = F.sum("lx").over(wg)
    sy = F.sum("ly").over(wg)
    sxy = F.sum(F.col("lx").cast("double") * F.col("ly")).over(wg)
    sxx = F.sum(F.col("lx").cast("double") * F.col("lx")).over(wg)
    slope = (nd * sxy - sx.cast("double") * sy) / (
        nd * sxx - sx.cast("double") * sx
    )
    return xy.select("m", "n_blocks", "mean_rs", r6(slope).alias("hurst"))


# --------------------------------------------------------------------------
# Kendall tau-b between daily flow value and daily event count
# --------------------------------------------------------------------------

_TAU_ORACLE = f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({CENTS_SQL}) AS BIGINT) AS x, count(*) AS y
  FROM events GROUP BY 1, 2),
p AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS disc
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1),
tx AS (
  SELECT event_type, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT event_type, count(*) AS t FROM d GROUP BY event_type, x) q
  GROUP BY 1),
ty AS (
  SELECT event_type, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT event_type, count(*) AS t FROM d GROUP BY event_type, y) q
  GROUP BY 1),
n AS (SELECT event_type, count(*) AS n_days FROM d GROUP BY 1),
j AS (
  SELECT n.event_type, n.n_days, p.c, p.disc, tx.n1, ty.n2,
         n.n_days * (n.n_days - 1) / 2 AS n0
  FROM n JOIN p ON n.event_type = p.event_type
  JOIN tx ON n.event_type = tx.event_type
  JOIN ty ON n.event_type = ty.event_type)
SELECT event_type, n_days, c AS n_concordant, disc AS n_discordant,
       CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0 THEN
         {R6_SQL.format(
             x="CAST(c - disc AS DOUBLE)"
               " / sqrt(CAST(n0 - n1 AS DOUBLE) * (n0 - n2))")}
       END AS tau_b
FROM j
"""


@register("kendall_tau_flow", oracle=_TAU_ORACLE)
def kendall_tau_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily dollar flow and
    daily event count, per event type: (C - D) / sqrt((n0-T_x)(n0-
    T_y)) with tie corrections on both margins — the outlier-robust
    companion to the Pearson `correlation` query (a single fat-finger
    day can flip Pearson's sign; it moves tau by one pair).

    Exactness: concordance tests are products of exact integer
    differences; C, D and both tie terms are exact integer counts;
    the single sqrt/divide is display-only and identical both sides.

    Scale shape: the fact scan collapses to O(types × days) in one
    map-side aggregate; the O(days²) pair join runs per type on that
    bounded frame (calendar-bounded, not data-bounded — same argument
    as mann_kendall_trend)."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(round_long(F.col("value") * 100))
            .cast("long")
            .alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    a = d.select(
        "event_type",
        F.col("day").alias("day_a"),
        F.col("x").alias("x_a"),
        F.col("y").alias("y_a"),
    )
    b = d.select(
        "event_type",
        F.col("day").alias("day_b"),
        F.col("x").alias("x_b"),
        F.col("y").alias("y_b"),
    )
    prod = (F.col("x_b") - F.col("x_a")) * (F.col("y_b") - F.col("y_a"))
    p = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long").alias("c"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long").alias("disc"),
        )
    )

    def tie_term(col, alias):
        return (
            d.groupBy("event_type", col)
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("event_type")
            .agg(
                F.sum(F.col("t") * (F.col("t") - 1) / 2)
                .cast("long")
                .alias(alias)
            )
        )

    tx = tie_term("x", "n1")
    ty = tie_term("y", "n2")
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    j = (
        n.join(p, "event_type")
        .join(tx, "event_type")
        .join(ty, "event_type")
        .withColumn("n0", (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("long"))
    )
    tau = (F.col("c") - F.col("disc")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("n1")).cast("double") * (F.col("n0") - F.col("n2"))
    )
    return j.select(
        "event_type",
        "n_days",
        F.col("c").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.when(
            (F.col("n0") - F.col("n1") > 0) & (F.col("n0") - F.col("n2") > 0),
            r6(tau),
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# Granger causality (lag-1) between hourly OI and hourly log returns
# --------------------------------------------------------------------------

_GC_DELTA = 3600


def _gc_oracle() -> str:
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents_sql

    def block(tag: str, y: str, v: str) -> str:
        return f"""
SELECT '{tag}' AS direction, n,
  {R6_SQL.format(x="(syv * suu - syu * suv) / (suu * svv - suv * suv)")}
    AS beta_cross,
  {R6_SQL.format(
      x="((syy - syu * syu / suu)"
        " - (syy - (syu * syu * svv - 2 * syu * syv * suv"
        "          + syv * syv * suu) / (suu * svv - suv * suv)))"
        " * (n - 3)"
        " / (syy - (syu * syu * svv - 2 * syu * syv * suv"
        "          + syv * syv * suu) / (suu * svv - suv * suv))")}
    AS f_stat
FROM (
  SELECT count(*) AS n,
         CAST(sum({y} * {y}) AS DOUBLE)
           - CAST(sum({y}) AS DOUBLE) * sum({y}) / count(*) AS syy,
         CAST(sum({y} * u_{tag}) AS DOUBLE)
           - CAST(sum({y}) AS DOUBLE) * sum(u_{tag}) / count(*) AS syu,
         CAST(sum({y} * {v}) AS DOUBLE)
           - CAST(sum({y}) AS DOUBLE) * sum({v}) / count(*) AS syv,
         CAST(sum(u_{tag} * u_{tag}) AS DOUBLE)
           - CAST(sum(u_{tag}) AS DOUBLE) * sum(u_{tag}) / count(*) AS suu,
         CAST(sum(u_{tag} * {v}) AS DOUBLE)
           - CAST(sum(u_{tag}) AS DOUBLE) * sum({v}) / count(*) AS suv,
         CAST(sum({v} * {v}) AS DOUBLE)
           - CAST(sum({v}) AS DOUBLE) * sum({v}) / count(*) AS svv
  FROM l WHERE u_{tag} IS NOT NULL AND {v} IS NOT NULL) s
WHERE suu > 0 AND (suu * svv - suv * suv) <> 0
"""

    return f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", _GC_DELTA)} AS bin,
         CAST(round({_oi_cents_sql("TRUE")} * 1e6) AS BIGINT) AS oi_micro,
         {_LN_MICRO_SQL.format(x="max_by(" + CENTS_SQL + ", event_id)")}
           - {_LN_MICRO_SQL.format(x="min_by(" + CENTS_SQL + ", event_id)")}
           AS r_micro
  FROM lob GROUP BY 1),
l AS (
  SELECT oi_micro, r_micro,
         lag(r_micro) OVER (ORDER BY bin) AS u_oi_to_ret,
         lag(oi_micro) OVER (ORDER BY bin) AS lag_oi,
         lag(oi_micro) OVER (ORDER BY bin) AS u_ret_to_oi,
         lag(r_micro) OVER (ORDER BY bin) AS lag_r
  FROM b)
{block("oi_to_ret", "r_micro", "lag_oi")}
UNION ALL
{block("ret_to_oi", "oi_micro", "lag_r")}
"""


@register("granger_oi_returns", oracle=_gc_oracle())
def granger_oi_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality F-tests between the hourly OI series
    and hourly intra-bin log returns, both directions: does lagged OI
    improve the AR(1) return forecast (the order-flow-predicts-
    returns hypothesis the reference's strategy chapter trades on),
    and vice versa. F = (RSS_restricted - RSS_full)·(n-3)/RSS_full
    with the 2-predictor OLS solved in closed form (2×2 inverse) —
    no iteration, no driver-side solve.

    Exactness: both series are exact micro-ints on observed hourly
    bins; every raw moment (Σy², Σyu, …) is an exact BIGINT; centered
    moments and the determinant expression are one identical double
    expression per engine. Degenerate variance/determinant rows drop
    on both sides.

    Scale shape: one map-side binned aggregate at fact scale, then
    lags + moments on the O(bins) frame (720 rows at sf0.1; bounded
    single-partition class, like oi_acf)."""
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents

    lob = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    b = (
        lob.withColumn("bin", bin_end("ts", _GC_DELTA))
        .groupBy("bin")
        .agg(
            round_long(_oi_cents(d, c, F.lit(True)) * 1e6)
            .alias("oi_micro"),
            (
                _ln_micro(F.max_by("cents", "event_id"))
                - _ln_micro(F.min_by("cents", "event_id"))
            ).alias("r_micro"),
        )
    )
    w = Window.orderBy("bin")
    l = b.select(
        "oi_micro",
        "r_micro",
        F.lag("r_micro").over(w).alias("lag_r"),
        F.lag("oi_micro").over(w).alias("lag_oi"),
    )

    def block(tag: str, y: str, u: str, v: str) -> DataFrame:
        rows = l.filter(F.col(u).isNotNull() & F.col(v).isNotNull())
        s = rows.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col(a) * F.col(bb)).cast("long").alias(f"s_{a}_{bb}")
                for a, bb in [(y, y), (y, u), (y, v), (u, u), (u, v), (v, v)]
            ],
            F.sum(y).cast("long").alias("sy"),
            F.sum(u).cast("long").alias("su"),
            F.sum(v).cast("long").alias("sv"),
        )
        nd = F.col("n").cast("double")

        def cen(raw, a, bb):
            return F.col(raw).cast("double") - F.col(a).cast("double") * F.col(
                bb
            ) / nd

        syy = cen(f"s_{y}_{y}", "sy", "sy")
        syu = cen(f"s_{y}_{u}", "sy", "su")
        syv = cen(f"s_{y}_{v}", "sy", "sv")
        suu = cen(f"s_{u}_{u}", "su", "su")
        suv = cen(f"s_{u}_{v}", "su", "sv")
        svv = cen(f"s_{v}_{v}", "sv", "sv")
        det = suu * svv - suv * suv
        rss_r = syy - syu * syu / suu
        rss_u = syy - (syu * syu * svv - 2 * syu * syv * suv + syv * syv * suu) / det
        return s.filter((suu > 0) & (det != 0)).select(
            F.lit(tag).alias("direction"),
            "n",
            r6((syv * suu - syu * suv) / det).alias("beta_cross"),
            r6((rss_r - rss_u) * (F.col("n") - 3) / rss_u).alias("f_stat"),
        )

    return block("oi_to_ret", "r_micro", "lag_r", "lag_oi").unionByName(
        block("ret_to_oi", "oi_micro", "lag_oi", "lag_r")
    )


# --------------------------------------------------------------------------
# Corwin-Schultz high-low spread estimator
# --------------------------------------------------------------------------

_CS_K = "(3.0 - 2.0 * sqrt(2.0))"

_CS_ORACLE = f"""
WITH lob AS (SELECT user_id, ts, {CENTS_SQL} AS cents
             FROM ({EVENTS_LOB_SQL}) e WHERE {CENTS_SQL} > 0),
d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo
  FROM lob GROUP BY 1, 2),
p AS (
  SELECT user_id,
         {_LN_MICRO_SQL.format(x="hi")} - {_LN_MICRO_SQL.format(x="lo")}
           AS hl,
         lag({_LN_MICRO_SQL.format(x="hi")} - {_LN_MICRO_SQL.format(x="lo")})
           OVER w AS hl_prev,
         {_LN_MICRO_SQL.format(x="greatest(hi, lag(hi) OVER w)")}
           - {_LN_MICRO_SQL.format(x="least(lo, lag(lo) OVER w)")} AS hl2
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)),
s AS (
  SELECT user_id,
         (CAST(hl AS DOUBLE) * hl + CAST(hl_prev AS DOUBLE) * hl_prev) / 1e12
           AS beta,
         CAST(hl2 AS DOUBLE) * hl2 / 1e12 AS gamma
  FROM p WHERE hl_prev IS NOT NULL),
a AS (
  SELECT user_id,
         (sqrt(2 * beta) - sqrt(beta)) / {_CS_K} - sqrt(gamma / {_CS_K})
           AS alpha
  FROM s),
m AS (
  SELECT user_id,
         CAST(round(2 * (exp(alpha) - 1) / (1 + exp(alpha)) * 1e6) AS BIGINT)
           AS s_micro
  FROM a)
SELECT user_id, count(*) AS n_pairs,
       {R6_SQL.format(x="CAST(sum(s_micro) AS DOUBLE) / count(*) / 1e6")}
         AS cs_spread,
       {R6_SQL.format(
           x="CAST(sum(greatest(s_micro, 0)) AS DOUBLE) / count(*) / 1e6")}
         AS cs_spread_clamped
FROM m GROUP BY 1
"""


@register("corwin_schultz_spread", oracle=_CS_ORACLE)
def corwin_schultz_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (2012) bid-ask spread estimator per ticker-
    analog, from daily high/low ranges: β (sum of two single-day
    squared log ranges), γ (the two-day squared log range), α =
    (√(2β)-√β)/(3-2√2) - √(γ/(3-2√2)), S = 2(eᵅ-1)/(1+eᵅ), averaged
    over consecutive-day pairs — the standard low-frequency spread
    proxy (reported raw and with the customary negative-spread clamp;
    complements roll_spread's autocovariance route).

    Exactness: daily highs/lows are exact cents; each log range is a
    micro-int difference, so β and γ are exact micro² integers scaled
    once; per-pair S is one identical sqrt/exp double expression
    micro-rounded to BIGINT, and the per-key mean sums exact
    integers. Residual: the documented half-ulp libm tie class, now
    including exp().

    Scale shape: one (key, day) map-side aggregate, one per-key lag
    window over O(days), one per-key rollup. Nothing global."""
    lob = lob_cents(spark, sf_dir).filter(F.col("cents") > 0)
    d = lob.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.max("cents").cast("long").alias("hi"),
        F.min("cents").cast("long").alias("lo"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    hl = _ln_micro(F.col("hi")) - _ln_micro(F.col("lo"))
    p = d.select(
        "user_id",
        hl.alias("hl"),
        F.lag(hl).over(w).alias("hl_prev"),
        (
            _ln_micro(F.greatest(F.col("hi"), F.lag("hi").over(w)))
            - _ln_micro(F.least(F.col("lo"), F.lag("lo").over(w)))
        ).alias("hl2"),
    ).filter(F.col("hl_prev").isNotNull())
    beta = (
        F.col("hl").cast("double") * F.col("hl")
        + F.col("hl_prev").cast("double") * F.col("hl_prev")
    ) / 1e12
    gamma = F.col("hl2").cast("double") * F.col("hl2") / 1e12
    k = 3.0 - 2.0 * math.sqrt(2.0)
    alpha = (F.sqrt(2 * beta) - F.sqrt(beta)) / k - F.sqrt(gamma / k)
    m = p.select(
        "user_id",
        round_long(2 * (F.exp(alpha) - 1) / (1 + F.exp(alpha)) * 1e6)
        .alias("s_micro"),
    )
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.sum("s_micro").cast("double") / F.count(F.lit(1)) / 1e6).alias(
            "cs_spread"
        ),
        r6(
            F.sum(F.greatest(F.col("s_micro"), F.lit(0))).cast("double")
            / F.count(F.lit(1))
            / 1e6
        ).alias("cs_spread_clamped"),
    )


# --------------------------------------------------------------------------
# Fixed-frequency periodogram (harmonic analysis) of the hourly OI series
# --------------------------------------------------------------------------

_PG_KS = (1, 2, 3, 4, 5, 6)
_PG_DELTA = 3600


def _pg_oracle() -> str:
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents_sql

    k_blocks = "\nUNION ALL\n".join(
        f"""
SELECT {k} AS k,
       CAST(max(n) AS BIGINT) AS n_series,
       CAST(sum(x * CAST(round(cos(2 * pi() * {k} * rn / n) * 1e6) AS BIGINT))
            AS BIGINT) AS sc_pico,
       CAST(sum(x * CAST(round(sin(2 * pi() * {k} * rn / n) * 1e6) AS BIGINT))
            AS BIGINT) AS ss_pico
FROM z
"""
        for k in _PG_KS
    )
    return f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", _PG_DELTA)} AS bin,
         {_oi_cents_sql("TRUE")} AS oi
  FROM lob GROUP BY 1),
grid AS (
  SELECT unnest(generate_series((SELECT min(bin) FROM b),
                                (SELECT max(bin) FROM b),
                                INTERVAL {_PG_DELTA} SECOND)) AS bin),
z AS (
  SELECT CAST(round(coalesce(b.oi, 0) * 1e6) AS BIGINT) AS x,
         row_number() OVER (ORDER BY g.bin) - 1 AS rn,
         count(*) OVER () AS n
  FROM grid g LEFT JOIN b ON g.bin = b.bin),
ks AS ({k_blocks})
SELECT k, n_series,
  {R6_SQL.format(x="CAST(n_series AS DOUBLE) / k")} AS period_hours,
  {R6_SQL.format(
      x="((CAST(sc_pico AS DOUBLE) / 1e12) * (CAST(sc_pico AS DOUBLE) / 1e12)"
        " + (CAST(ss_pico AS DOUBLE) / 1e12) * (CAST(ss_pico AS DOUBLE) / 1e12))"
        " / n_series * 1e3")} AS power_x1e3
FROM ks
"""


@register("oi_periodogram", oracle=_pg_oracle())
def oi_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the densified hourly OI series at the first six
    Fourier frequencies: I(f_k) = |Σ_t x_t e^(-2πikt/n)|² / n — the
    spectral companion to oi_acf/ljung_box that localizes WHICH cycle
    (period n/k hours) carries the autocorrelated energy the
    portmanteau test only detects in aggregate. Reported ×1e3 so
    sf-scale OI power survives 6-dp display rounding.

    Exactness: cos/sin coefficients are micro-rounded ONCE per (k, t)
    — identical in both engines up to the documented libm half-ulp
    tie class — making each Σ x·c an exact pico-unit BIGINT; the
    squared magnitudes are display-only doubles. The raw (non-
    demeaned) periodogram is computed; at k ≥ 1 the mean leaks only
    through coefficient rounding (≤1e-6 per term), documented here.

    Scale shape: fact work is the binned aggregate; the trig sums run
    over the O(bins) frame once per k (6 passes over ≤720 rows at
    sf0.1 — bounded single-partition class, like oi_acf)."""
    from dissertation_iceberg_spark.operators.order_imbalance import densify
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents

    lob = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    b = (
        lob.withColumn("bin", bin_end("ts", _PG_DELTA))
        .groupBy("bin")
        .agg(_oi_cents(d, c, F.lit(True)).alias("oi"))
    )
    z = densify(b, _PG_DELTA, zero_fill=("oi",)).select(
        round_long(F.col("oi") * 1e6).alias("x"),
        (F.row_number().over(Window.orderBy("bin")) - 1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    two_pi = 2 * math.pi
    parts = []
    for k in _PG_KS:
        theta = two_pi * k * F.col("rn") / F.col("n")
        parts.append(
            z.agg(
                F.max("n").cast("long").alias("n_series"),
                F.sum(
                    F.col("x") * round_long(F.cos(theta) * 1e6)
                )
                .cast("long")
                .alias("sc_pico"),
                F.sum(
                    F.col("x") * round_long(F.sin(theta) * 1e6)
                )
                .cast("long")
                .alias("ss_pico"),
            ).select(F.lit(k).alias("k"), "*")
        )
    ks = parts[0]
    for p in parts[1:]:
        ks = ks.unionByName(p)
    sc = F.col("sc_pico").cast("double") / 1e12
    ss = F.col("ss_pico").cast("double") / 1e12
    return ks.select(
        "k",
        "n_series",
        r6(F.col("n_series").cast("double") / F.col("k")).alias(
            "period_hours"
        ),
        r6((sc * sc + ss * ss) / F.col("n_series") * 1e3).alias("power_x1e3"),
    )


# --------------------------------------------------------------------------
# Seasonal Mann-Kendall: trend test stratified by weekday
# --------------------------------------------------------------------------

_SMK_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS day_num,
         CAST(sum({CENTS_SQL}) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
dw AS (
  SELECT event_type, day_num, (day_num + 3) % 7 AS dow, v FROM d),
pairs AS (
  SELECT a.event_type, a.dow,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM dw a JOIN dw b ON a.event_type = b.event_type AND a.dow = b.dow
        AND a.day_num < b.day_num
  GROUP BY 1, 2),
ties AS (
  SELECT event_type, dow,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, dow, count(*) AS t
        FROM dw GROUP BY event_type, dow, v) q
  GROUP BY 1, 2),
n AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_g FROM dw
      GROUP BY 1, 2),
per AS (
  SELECT n.event_type, n.dow, n.n_g, p.s,
         (CAST(n.n_g AS DOUBLE) * (n.n_g - 1) * (2 * n.n_g + 5)
          - t.tie_term) / 18 AS var_g
  FROM n JOIN pairs p ON n.event_type = p.event_type AND n.dow = p.dow
  JOIN ties t ON n.event_type = t.event_type AND n.dow = t.dow),
agg AS (
  SELECT event_type,
         CAST(sum(n_g) AS BIGINT) AS n_days,
         CAST(sum(s) AS BIGINT) AS s_stat,
         sum(var_g) AS var_s
  FROM per GROUP BY 1)
SELECT event_type, n_days, s_stat,
       {R6_SQL.format(x="var_s")} AS var_s,
       CASE WHEN var_s > 0 THEN
         {R6_SQL.format(
             x="CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)"
               " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)"
               " ELSE 0.0 END")}
       END AS smk_z
FROM agg
"""


@register("seasonal_mann_kendall", oracle=_SMK_ORACLE)
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch-Slack without serial correction):
    the MK S statistic and tie-corrected variance computed WITHIN each
    weekday stratum and summed — the trend test that is immune to the
    day-of-week cycle seasonal_decompose exposes (plain Mann-Kendall
    reads a strong weekly pattern as noise or spurious trend).

    Scale shape: one fact-scale daily aggregate; the pairwise sign
    sums run per (type, weekday) stratum over O((days/7)²) pairs of
    the O(days) frame — history-bounded, never row-scale (the same
    accepted class as mann_kendall_trend). Weekday comes from pure
    epoch-day arithmetic ((day_num+3) % 7), no engine dayofweek
    convention.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("v")
    )
    dw = d.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num"),
        "v",
    ).withColumn("dow", (F.col("day_num") + 3) % 7)
    a = dw.select("event_type", "dow", F.col("day_num").alias("da"), F.col("v").alias("va"))
    b = dw.select(
        F.col("event_type").alias("et_b"),
        F.col("dow").alias("dow_b"),
        F.col("day_num").alias("db"),
        F.col("v").alias("vb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("dow") == F.col("dow_b"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("event_type", "dow")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        dw.groupBy("event_type", "dow", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type", "dow")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    n = dw.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    ng = F.col("n_g")
    per = n.join(pairs, ["event_type", "dow"]).join(
        ties, ["event_type", "dow"]
    ).select(
        "event_type",
        "n_g",
        "s",
        (
            (ng.cast("double") * (ng - 1) * (2 * ng + 5) - F.col("tie_term"))
            / 18
        ).alias("var_g"),
    )
    agg = per.groupBy("event_type").agg(
        F.sum("n_g").cast("long").alias("n_days"),
        F.sum("s").cast("long").alias("s_stat"),
        F.sum("var_g").alias("var_s"),
    )
    s, var_s = F.col("s_stat"), F.col("var_s")
    z = (
        F.when(s > 0, (s.cast("double") - 1) / F.sqrt(var_s))
        .when(s < 0, (s.cast("double") + 1) / F.sqrt(var_s))
        .otherwise(0.0)
    )
    return agg.select(
        "event_type",
        "n_days",
        "s_stat",
        r6(var_s).alias("var_s"),
        F.when(var_s > 0, r6(z)).alias("smk_z"),
    )
