"""Second window-operator batch (SURVEY §2.5 W5-W6, W8-W10, A15).

- W6 order-flow-imbalance event flow with lagged L1 state
- W8 rolling top-performer selection (trailing-window rank)
- W9 midprice log-diff
- A15 cumulative product of simple returns via exp(sum(log))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

DELTA = 21_600

# --------------------------------------------------------------------------
# W9 log-diff per key
# --------------------------------------------------------------------------

_LOGDIFF_ORACLE = """
SELECT event_id,
       round(CASE WHEN value > 0
                   AND lag(value) OVER w > 0
             THEN ln(value) - ln(lag(value) OVER w) END, 6) AS log_diff
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("log_diff", oracle=_LOGDIFF_ORACLE)
def log_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: event-level log(mid).diff() analog (EDA.ipynb cell 26)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    return e.select(
        "event_id",
        F.round(
            F.when(
                (F.col("value") > 0) & (prev > 0), F.log("value") - F.log(prev)
            ),
            6,
        ).alias("log_diff"),
    )


# --------------------------------------------------------------------------
# A15 cumulative product of (1 + r) via exp(sum(log))
# --------------------------------------------------------------------------

_CUMPROD_ORACLE = """
WITH r AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value > 0 AND lag(value) OVER w > 0
              THEN value / lag(value) OVER w END AS growth
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id,
       round(sum(ln(growth)) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_log_growth
FROM r
"""


@register("cumprod_returns", oracle=_CUMPROD_ORACLE)
def cumprod_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: (1+r).cumprod() as a running sum of logs — the associative
    form that distributes (single_strategy_statistics.ipynb cell 11).
    Emitted on the log scale: the final exp() is presentational, and
    exp amplifies last-ulp libm differences between engines past the
    rounding budget (observed at sf0.1), while the log-scale sum stays
    engine-stable at ~1e-13."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    growth = F.when((F.col("value") > 0) & (prev > 0), F.col("value") / prev)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return e.withColumn("growth", growth).select(
        "event_id",
        F.round(F.sum(F.log("growth")).over(wc), 6).alias("cum_log_growth"),
    )


# --------------------------------------------------------------------------
# W6 OFI event flow (lagged-state conditional flow, then binned)
# --------------------------------------------------------------------------

_OFI_ORACLE = f"""
WITH s AS (
  SELECT *, CAST(round(value * 100) AS BIGINT) AS cents,
         lag(CAST(round(value * 100) AS BIGINT)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_cents
  FROM events),
en AS (
  SELECT *,
    CASE WHEN prev_cents IS NULL THEN 0
         ELSE (CASE WHEN cents >= prev_cents THEN cents ELSE 0 END)
            - (CASE WHEN cents <= prev_cents THEN prev_cents ELSE 0 END)
    END AS flow_cents
  FROM s)
SELECT {bin_end_sql("ts", DELTA)} AS bin,
       sum(flow_cents) / 100.0 AS ofi_flow,
       count(*) AS n
FROM en GROUP BY 1
"""


@register("ofi_event_flow", oracle=_OFI_ORACLE)
def ofi_event_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: OFI-style event flow — indicator-gated diffs of lagged L1
    state summed per bin (EDA_SPY.ipynb cells 23-25). Integer-cents
    flow keeps bin sums exact under any aggregation order."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = round_long(F.col("value") * 100)
    s = e.withColumn("cents", cents).withColumn(
        "prev_cents", F.lag(cents, 1).over(w)
    )
    flow = F.when(F.col("prev_cents").isNull(), F.lit(0)).otherwise(
        F.when(F.col("cents") >= F.col("prev_cents"), F.col("cents")).otherwise(F.lit(0))
        - F.when(F.col("cents") <= F.col("prev_cents"), F.col("prev_cents")).otherwise(
            F.lit(0)
        )
    )
    return (
        s.withColumn("flow_cents", flow)
        .withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            (F.sum("flow_cents") / 100.0).alias("ofi_flow"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# W8 rolling top-performer selection
# --------------------------------------------------------------------------

_TOPPERF_ORACLE = """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
  FROM events GROUP BY 1, 2),
t AS (
  SELECT *, sum(day_cents) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_cents
  FROM d)
SELECT day, user_id, trail_cents / 100.0 AS trailing_value,
       CAST(row_number() OVER (PARTITION BY day
            ORDER BY trail_cents DESC, user_id) AS BIGINT) AS rnk
FROM t
WHERE trail_cents IS NOT NULL
QUALIFY rnk <= 3
"""


@register("rolling_top_performers", oracle=_TOPPERF_ORACLE)
def rolling_top_performers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: per day, rank keys by trailing-7-day summed value, keep top 3
    (ClOp_analysis.ipynb cells 9-11) — trailing frame + per-day
    row_number; exact integer sums."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(round_long(F.col("value") * 100)).alias("day_cents"))
    wt = Window.partitionBy("user_id").orderBy("day").rowsBetween(-7, -1)
    t = d.withColumn("trail_cents", F.sum("day_cents").over(wt)).filter(
        F.col("trail_cents").isNotNull()
    )
    wr = Window.partitionBy("day").orderBy(F.desc("trail_cents"), F.asc("user_id"))
    return (
        t.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "day",
            "user_id",
            (F.col("trail_cents") / 100.0).alias("trailing_value"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
