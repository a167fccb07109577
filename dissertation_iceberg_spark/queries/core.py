"""Core query surface over the LOB-shaped ``events`` view.

Each query = Spark DataFrame plan + DuckDB oracle SQL with identical
semantics, identical aliases, identical float rounding. Sums over
unordered row sets use the "integer-scaled sum" trick (values are 2-dp
decimals: scale ×100 → exact BIGINT sums in both engines → rescale)
so results are bit-stable regardless of partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.io import load_table, lob_events
from dissertation_iceberg_spark.operators import preprocessing as prep
from dissertation_iceberg_spark.operators import stats as stats_ops
from dissertation_iceberg_spark.operators.iceberg import asof_next_within
from dissertation_iceberg_spark.operators.order_imbalance import oi_pipeline
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.queries.sqlgen import EVENTS_LOB_SQL
from dissertation_iceberg_spark.functions.exact import round_long

DELTA_SEC = 3600  # 1-hour bins over the month-long events table
ICEBERG_TOL_US = 6 * 3600 * 1_000_000  # forward as-of tolerance


# --------------------------------------------------------------------------
# Flagship: conditional OI + densification + returns (SURVEY §7 step 3)
# --------------------------------------------------------------------------

_OI_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", DELTA_SEC)} AS bin,
         CASE WHEN (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  + sum(CASE WHEN direction= 1 THEN size ELSE 0 END)) <> 0
              THEN (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  - sum(CASE WHEN direction= 1 THEN size ELSE 0 END))
                 / (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  + sum(CASE WHEN direction= 1 THEN size ELSE 0 END))
         END AS order_imbalance,
         count(*) AS n_events,
         min_by(value, event_id) AS first_price,
         max_by(value, event_id) AS last_price
  FROM lob GROUP BY 1),
grid AS (
  SELECT unnest(generate_series((SELECT min(bin) FROM b),
                                (SELECT max(bin) FROM b),
                                INTERVAL {DELTA_SEC} SECOND)) AS bin),
d AS (
  SELECT g.bin,
         coalesce(b.order_imbalance, 0) AS order_imbalance,
         coalesce(b.n_events, 0) AS n_events,
         b.first_price, b.last_price,
         CASE WHEN b.first_price > 0 AND b.last_price > 0
              THEN ln(b.last_price) - ln(b.first_price) END AS log_ret
  FROM grid g LEFT JOIN b ON g.bin = b.bin)
SELECT bin,
       round(order_imbalance, 6) AS order_imbalance,
       n_events,
       round(first_price, 6) AS first_price,
       round(last_price, 6) AS last_price,
       round(log_ret, 6) AS log_ret,
       round(lead(log_ret) OVER (
           PARTITION BY date_trunc('day', bin - INTERVAL 1 MICROSECOND)
           ORDER BY bin), 6) AS fut_log_ret
FROM d ORDER BY bin
"""


@register("oi_hourly_densified", oracle=_OI_ORACLE)
def oi_hourly_densified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3+J3+W4 composed: tumbling conditional order imbalance with
    complete-grid zero-fill, deterministic first/last price, log and
    future log returns (order_imbalance.py:242-316)."""
    return oi_pipeline(lob_events(spark, sf_dir), DELTA_SEC)


# --------------------------------------------------------------------------
# Flagship, per-key variant: grouped OI with per-key calendar grids —
# the partition-first shape the 100 TB deployment uses (SURVEY §1.4)
# --------------------------------------------------------------------------

_PK_DELTA = 21_600

_OI_PK_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT user_id, {bin_end_sql("ts", _PK_DELTA)} AS bin,
         CASE WHEN (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  + sum(CASE WHEN direction= 1 THEN size ELSE 0 END)) <> 0
              THEN (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  - sum(CASE WHEN direction= 1 THEN size ELSE 0 END))
                 / (sum(CASE WHEN direction=-1 THEN size ELSE 0 END)
                  + sum(CASE WHEN direction= 1 THEN size ELSE 0 END))
         END AS order_imbalance,
         count(*) AS n_events,
         min_by(value, event_id) AS first_price,
         max_by(value, event_id) AS last_price
  FROM lob GROUP BY 1, 2),
bounds AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM b GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL {_PK_DELTA} SECOND)) AS bin
  FROM bounds),
d AS (
  SELECT g.user_id, g.bin,
         coalesce(b.order_imbalance, 0) AS order_imbalance,
         coalesce(b.n_events, 0) AS n_events,
         b.first_price, b.last_price,
         CASE WHEN b.first_price > 0 AND b.last_price > 0
              THEN ln(b.last_price) - ln(b.first_price) END AS log_ret
  FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bin = b.bin)
SELECT user_id, bin,
       round(order_imbalance, 6) AS order_imbalance,
       n_events,
       round(first_price, 6) AS first_price,
       round(last_price, 6) AS last_price,
       round(log_ret, 6) AS log_ret,
       round(lead(log_ret) OVER (
           PARTITION BY user_id, date_trunc('day', bin - INTERVAL 1 MICROSECOND)
           ORDER BY bin), 6)
           AS fut_log_ret
FROM d
"""


@register("oi_per_key_densified", oracle=_OI_PK_ORACLE)
def oi_per_key_densified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship kernel partitioned by key (ticker-analog): per-key bins,
    per-key grids from each key's own [min, max] span, per-key return
    windows — no global state anywhere, which is what makes the same
    plan valid at 1000 executors."""
    return oi_pipeline(
        lob_events(spark, sf_dir), _PK_DELTA, group_cols=["user_id"]
    )


# --------------------------------------------------------------------------
# P1 trading-hours filter
# --------------------------------------------------------------------------

_HOURS_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE epoch_us(ts) % 86400000000 BETWEEN 36000000000 AND 55800000000
"""


@register("trading_hours", oracle=_HOURS_ORACLE)
def trading_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: keep rows with time-of-day in [10:00, 15:30], inclusive like
    pandas between_time (prediction_ML_pipeline.py:108-117). Pure
    integer predicate — pushes to the scan."""
    df = load_table(spark, sf_dir, "events")
    return prep.trading_hours_filter(df).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# P2 keep-first dedup
# --------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
"""


@register("dedup_first", oracle=_DEDUP_ORACLE)
def dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: order-stable keep-first dedup per (user_id, event_type)
    (prediction_ML_pipeline.py:119-121)."""
    df = load_table(spark, sf_dir, "events")
    return prep.dedup_first(df, ["user_id", "event_type"], "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# W1 event numbering within simultaneous-event bursts
# --------------------------------------------------------------------------

_NUMBER_ORACLE = """
SELECT event_id,
       CAST(row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                               ORDER BY event_id) - 1 AS BIGINT) AS event_number,
       CAST(count(*) OVER (PARTITION BY user_id, date_trunc('minute', ts)) AS BIGINT)
           AS event_number_at_t
FROM events
"""


@register("event_numbering", oracle=_NUMBER_ORACLE)
def event_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: cumcount within (key, timestamp-burst) groups + burst size
    (prediction_ML_pipeline.py:99-103). Bursts are minute-truncated
    timestamps here so group sizes exceed 1 on synthetic data."""
    df = load_table(spark, sf_dir, "events").withColumn(
        "burst_ts", F.date_trunc("minute", F.col("ts"))
    )
    out = prep.event_number(df, ["user_id", "burst_ts"], "event_id")
    return out.select(
        "event_id",
        F.col("event_number").cast("long").alias("event_number"),
        F.col("event_number_at_t").cast("long").alias("event_number_at_t"),
    )


# --------------------------------------------------------------------------
# W2 prev/next direction of a given event class
# --------------------------------------------------------------------------

_ADJ_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL})
SELECT event_id,
  CAST(coalesce(last_value(CASE WHEN event_type = 'purchase' THEN direction END IGNORE NULLS)
           OVER w_prev, 0) AS BIGINT) AS prev_exec_dir,
  CAST(coalesce(first_value(CASE WHEN event_type = 'purchase' THEN direction END IGNORE NULLS)
           OVER w_next, 0) AS BIGINT) AS next_exec_dir,
  CAST(coalesce(last_value(CASE WHEN event_type = 'signup' THEN direction END IGNORE NULLS)
           OVER w_prev, 0) AS BIGINT) AS prev_sub_dir,
  CAST(coalesce(first_value(CASE WHEN event_type = 'signup' THEN direction END IGNORE NULLS)
           OVER w_next, 0) AS BIGINT) AS next_sub_dir
FROM lob
WINDOW
  w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
  w_next AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
"""


@register("adjacent_direction", oracle=_ADJ_ORACLE)
def adjacent_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: masked shift+ffill/bfill of the direction of the nearest
    event of a class (prediction_ML_pipeline.py:135-146), for the
    execution-analog ('purchase') and submission-analog ('signup')."""
    from dissertation_iceberg_spark.operators.features import adjacent_direction as adj

    df = lob_events(spark, sf_dir)
    df = adj(
        df,
        F.col("event_type") == "purchase",
        "direction",
        ["user_id"],
        ["ts", "event_id"],
        "prev_exec_dir",
        "next_exec_dir",
    )
    df = adj(
        df,
        F.col("event_type") == "signup",
        "direction",
        ["user_id"],
        ["ts", "event_id"],
        "prev_sub_dir",
        "next_sub_dir",
    )
    return df.select(
        "event_id",
        F.col("prev_exec_dir").cast("long").alias("prev_exec_dir"),
        F.col("next_exec_dir").cast("long").alias("next_exec_dir"),
        F.col("prev_sub_dir").cast("long").alias("prev_sub_dir"),
        F.col("next_sub_dir").cast("long").alias("next_sub_dir"),
    )


# --------------------------------------------------------------------------
# W3 rolling trade sentiment
# --------------------------------------------------------------------------

_SENT_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
s AS (
  SELECT *,
    CASE WHEN event_type IN ('signup', 'purchase') THEN direction * size
         WHEN event_type = 'error' THEN -direction * size
         ELSE 0.0 END AS signed
  FROM lob)
SELECT event_id,
  round(sum(signed) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS sent_back,
  round(sum(signed) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), 6) AS sent_fwd
FROM s
"""


@register("rolling_sentiment", oracle=_SENT_ORACLE)
def rolling_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: np.select signed size + backward/forward rolling(5) sums
    (prediction_ML_pipeline.py:149-174)."""
    from dissertation_iceberg_spark.operators.features import (
        rolling_sentiment as roll,
        signed_size,
    )

    df = lob_events(spark, sf_dir)
    signed = signed_size(
        F.col("event_type"),
        F.col("direction"),
        F.col("size"),
        F.col("event_type").isin("signup", "purchase"),
        F.col("event_type") == "error",
    )
    out = roll(df.withColumn("signed", signed), F.col("signed"), ["user_id"], ["ts", "event_id"])
    return out.select(
        "event_id",
        F.round("sent_back", 6).alias("sent_back"),
        F.round("sent_fwd", 6).alias("sent_fwd"),
    )


# --------------------------------------------------------------------------
# A15/W10 cumulative sums
# --------------------------------------------------------------------------

_CUM_ORACLE = """
SELECT event_id,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value
FROM events
"""


@register("cumulative_value", oracle=_CUM_ORACLE)
def cumulative_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: running cumulative sum per key in event order
    (single_strategy_statistics.ipynb cells 9-11)."""
    df = load_table(spark, sf_dir, "events")
    out = stats_ops.cumulative_sum(df, "value", ["user_id"], ["ts", "event_id"], "cum_value")
    return out.select("event_id", F.round("cum_value", 6).alias("cum_value"))


# --------------------------------------------------------------------------
# A6 time-of-day seasonality
# --------------------------------------------------------------------------

_SEASON_ORACLE = """
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       count(*) AS n,
       round(avg(value), 6) AS mean_value,
       round(stddev_samp(value), 6) AS std_value
FROM events GROUP BY 1
"""


@register("seasonality_hourly", oracle=_SEASON_ORACLE)
def seasonality_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-hour-of-day mean/std of size (EDA_initial.ipynb cell 7)."""
    df = load_table(spark, sf_dir, "events")
    return df.groupBy(F.hour("ts").cast("long").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
    )


# --------------------------------------------------------------------------
# A7 daily sums (integer-scaled: bit-stable across engines)
# --------------------------------------------------------------------------

_DAILY_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events GROUP BY 1
"""


@register("daily_sums", oracle=_DAILY_ORACLE)
def daily_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-day event count + exact total (EDA_initial.ipynb cell 8).
    2-dp values are summed as integer cents so the result is identical
    under any aggregation order."""
    df = load_table(spark, sf_dir, "events")
    return df.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(round_long(F.col("value") * 100)) / 100.0).alias("total_value"),
    )


# --------------------------------------------------------------------------
# A8 describe() battery
# --------------------------------------------------------------------------

_SUMMARY_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(avg(value), 6) AS mean_value,
       round(stddev_samp(value), 6) AS std_value,
       min(value) AS min_value,
       round(quantile_cont(value, 0.25), 6) AS q25,
       round(quantile_cont(value, 0.5), 6) AS median,
       round(quantile_cont(value, 0.75), 6) AS q75,
       max(value) AS max_value
FROM events GROUP BY 1
"""


@register("summary_stats", oracle=_SUMMARY_ORACLE)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: describe() per class (EDA_final_alltickers.py:78-110). Exact
    linear-interpolation percentiles on both engines."""
    df = load_table(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
        F.min("value").alias("min_value"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q75"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# A11 moment statistics (Sharpe battery)
# --------------------------------------------------------------------------


@register(
    "moment_stats",
    oracle=stats_ops.moment_stats_sql("SELECT * FROM events", "value", ["event_type"]),
)
def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: n/mean/std/skew(g1)/kurt(g2, non-Fisher −3 already applied)/
    annualized Sharpe from explicit power sums — engine-independent
    formula path (single_strategy_statistics.ipynb cell 12)."""
    df = load_table(spark, sf_dir, "events")
    return stats_ops.moment_stats(df, "value", ["event_type"])


# --------------------------------------------------------------------------
# A12 correlation
# --------------------------------------------------------------------------

_CORR_ORACLE = """
SELECT event_type,
       round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu
FROM events GROUP BY 1
"""


@register("correlation", oracle=_CORR_ORACLE)
def correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: Pearson correlation per group (time_series_OI.py:35-37).

    Assembled as covar_samp / (stddev * stddev) with a zero-variance
    guard rather than F.corr: ANSI F.corr throws DIVIDE_BY_ZERO on a
    degenerate group (round-7 one_ticker fuzz — a single-name stream
    makes user_id constant), while DuckDB's corr returns NULL there;
    the guarded form returns NULL on both engines and is the same
    streaming-moment arithmetic elsewhere."""
    df = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    g = df.groupBy("event_type").agg(
        F.covar_samp(F.col("value"), u).alias("cov"),
        F.stddev_samp("value").alias("sv"),
        F.stddev_samp(u).alias("su"),
    )
    corr = F.when(
        (F.col("sv") > 0) & (F.col("su") > 0),
        F.col("cov") / (F.col("sv") * F.col("su")),
    )
    return g.select("event_type", F.round(corr, 6).alias("corr_vu"))


# --------------------------------------------------------------------------
# P6 quantile outlier filter
# --------------------------------------------------------------------------

_QFILTER_ORACLE = """
WITH q AS (SELECT quantile_cont(value, 0.025) AS qlo,
                  quantile_cont(value, 0.975) AS qhi FROM events)
SELECT event_id, value FROM events, q
WHERE value BETWEEN qlo AND qhi
"""


@register("quantile_filter", oracle=_QFILTER_ORACLE)
def quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: keep values within exact [q0.025, q0.975]
    (order_imbalance.py:233-237); broadcast-joined thresholds, no
    driver collect."""
    df = load_table(spark, sf_dir, "events")
    return stats_ops.quantile_filter(df, "value").select("event_id", "value")


# --------------------------------------------------------------------------
# J1 as-of iceberg tag + A2 iceberg-split OI
# --------------------------------------------------------------------------

_ICE_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
t AS (
  SELECT *,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_sub_us
  FROM lob)
SELECT event_id, user_id, value,
       CAST(CASE WHEN next_sub_us IS NOT NULL
                  AND next_sub_us <= epoch_us(ts) + {ICEBERG_TOL_US}
            THEN 1 ELSE 0 END AS BIGINT) AS iceberg
FROM t WHERE event_type = 'purchase'
"""


@register("iceberg_tag", oracle=_ICE_ORACLE)
def iceberg_tag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: forward as-of flag — a 'purchase' (visible-execution analog)
    is iceberg=1 if the same user's next 'signup' (submission analog)
    arrives within the inclusive forward tolerance
    (order_imbalance.py:25-48, merge_asof semantics). Single window
    pass; no range join."""
    df = lob_events(spark, sf_dir)
    tagged = asof_next_within(
        df,
        probe_pred=F.col("event_type") == "purchase",
        match_pred=F.col("event_type") == "signup",
        by_cols=["user_id"],
        tolerance_us=ICEBERG_TOL_US,
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", F.col("iceberg").cast("long").alias("iceberg")
    )


_ICE_OI_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
t AS (
  SELECT *,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_sub_us
  FROM lob),
execs AS (
  SELECT *, CASE WHEN next_sub_us IS NOT NULL
                  AND next_sub_us <= epoch_us(ts) + {ICEBERG_TOL_US}
            THEN 1 ELSE 0 END AS iceberg
  FROM t WHERE event_type = 'purchase')
SELECT {bin_end_sql("ts", DELTA_SEC)} AS bin,
  round(CASE WHEN (sum(CASE WHEN direction=-1 AND iceberg=0 THEN size ELSE 0 END)
               + sum(CASE WHEN direction=1 AND iceberg=0 THEN size ELSE 0 END)) <> 0
        THEN (sum(CASE WHEN direction=-1 AND iceberg=0 THEN size ELSE 0 END)
            - sum(CASE WHEN direction=1 AND iceberg=0 THEN size ELSE 0 END))
           / (sum(CASE WHEN direction=-1 AND iceberg=0 THEN size ELSE 0 END)
            + sum(CASE WHEN direction=1 AND iceberg=0 THEN size ELSE 0 END)) END, 6)
      AS oi_vis,
  round(CASE WHEN (sum(CASE WHEN direction=-1 AND iceberg=1 THEN size ELSE 0 END)
               + sum(CASE WHEN direction=1 AND iceberg=1 THEN size ELSE 0 END)) <> 0
        THEN (sum(CASE WHEN direction=-1 AND iceberg=1 THEN size ELSE 0 END)
            - sum(CASE WHEN direction=1 AND iceberg=1 THEN size ELSE 0 END))
           / (sum(CASE WHEN direction=-1 AND iceberg=1 THEN size ELSE 0 END)
            + sum(CASE WHEN direction=1 AND iceberg=1 THEN size ELSE 0 END)) END, 6)
      AS oi_ib,
  count(*) AS n_execs
FROM execs GROUP BY 1
"""


@register("iceberg_split_oi", oracle=_ICE_OI_ORACLE)
def iceberg_split_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-bin OI computed separately over iceberg=0 / iceberg=1
    executions in ONE aggregation pass (order_imbalance.py:381-386)."""
    from dissertation_iceberg_spark.operators.order_imbalance import oi_expr

    df = lob_events(spark, sf_dir)
    tagged = asof_next_within(
        df,
        probe_pred=F.col("event_type") == "purchase",
        match_pred=F.col("event_type") == "signup",
        by_cols=["user_id"],
        tolerance_us=ICEBERG_TOL_US,
    ).filter(F.col("event_type") == "purchase")
    d, s = F.col("direction"), F.col("size")
    return (
        tagged.withColumn("bin", bin_end("ts", DELTA_SEC))
        .groupBy("bin")
        .agg(
            F.round(oi_expr(d, s, F.col("iceberg") == 0), 6).alias("oi_vis"),
            F.round(oi_expr(d, s, F.col("iceberg") == 1), 6).alias("oi_ib"),
            F.count(F.lit(1)).alias("n_execs"),
        )
    )
