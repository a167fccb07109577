"""Strategy-layer queries (SURVEY §2.5 W7, §2.4 A9-A10, §2.6 O3).

Signals are integer-scaled sums (bit-stable), ranks are row_number with
pinned tiebreaks (pandas rank(method='first') parity), so the whole
rank -> select -> PnL path is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators.strategy import (
    cross_sectional_select,
    leg_pnl,
    portfolio_pnl,
    top_k,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

_SIGNAL_SQL = """
SELECT date_trunc('day', ts) AS day, user_id,
       sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END
           * CAST(round(value * 100) AS BIGINT)) / 100.0 AS signal,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS gross
FROM events GROUP BY 1, 2
"""


def _signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (day, user) signed-flow signal — the cross-section input
    (signal_df analog, trading_strategy.py:242-245)."""
    e = load_table(spark, sf_dir, "events")
    direction = F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    cents = round_long(F.col("value") * 100)
    return e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "user_id").agg(
        (F.sum(direction * cents) / 100.0).alias("signal"),
        (F.sum(cents) / 100.0).alias("gross"),
    )


def _daily_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily long-short PnL series (day, pnl, n_trades) of the
    20% cross-sectional selection over :func:`_signals`: the unrounded
    leg difference and the number of legs traded that day
    (single_strategy_statistics.ipynb evaluates this series)."""
    sel = cross_sectional_select(
        _signals(spark, sf_dir), "day", "signal", "user_id", 0.2
    )
    return sel.groupBy("day").agg(
        leg_pnl("gross").alias("pnl"),
        F.sum(F.col("is_top") + F.col("is_bottom")).alias("n_trades"),
    )


_RANK_ORACLE = f"""
WITH sig AS ({_SIGNAL_SQL})
SELECT day, user_id, signal,
  CAST(row_number() OVER w AS BIGINT) AS rnk,
  CAST(CASE WHEN row_number() OVER w <= floor(count(*) OVER (PARTITION BY day) * 0.2)
             AND signal > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_top,
  CAST(CASE WHEN row_number() OVER w > count(*) OVER (PARTITION BY day)
                 - floor(count(*) OVER (PARTITION BY day) * 0.2)
             AND signal < 0 THEN 1 ELSE 0 END AS BIGINT) AS is_bottom
FROM sig
WINDOW w AS (PARTITION BY day ORDER BY signal DESC, user_id ASC)
"""


@register("cross_sectional_rank", oracle=_RANK_ORACLE)
def cross_sectional_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: per-day cross-sectional rank(method='first') with top/bottom
    percentile flags and sign filters (trading_strategy.py:398-404)."""
    sel = cross_sectional_select(
        _signals(spark, sf_dir), "day", "signal", "user_id", percentile=0.2
    )
    return sel.select(
        "day",
        "user_id",
        "signal",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("is_top").cast("long").alias("is_top"),
        F.col("is_bottom").cast("long").alias("is_bottom"),
    )


_PNL_ORACLE = f"""
WITH sig AS ({_SIGNAL_SQL}),
sel AS (
  SELECT *,
    CASE WHEN row_number() OVER w <= floor(count(*) OVER (PARTITION BY day) * 0.2)
          AND signal > 0 THEN 1 ELSE 0 END AS is_top,
    CASE WHEN row_number() OVER w > count(*) OVER (PARTITION BY day)
                 - floor(count(*) OVER (PARTITION BY day) * 0.2)
          AND signal < 0 THEN 1 ELSE 0 END AS is_bottom
  FROM sig
  WINDOW w AS (PARTITION BY day ORDER BY signal DESC, user_id ASC))
SELECT day,
  round(sum(CASE WHEN is_top = 1 THEN gross ELSE 0 END)
      - sum(CASE WHEN is_bottom = 1 THEN gross ELSE 0 END), 6) AS pnl,
  CAST(sum(CAST(is_top AS BIGINT)) AS BIGINT) AS n_top,
  CAST(sum(CAST(is_bottom AS BIGINT)) AS BIGINT) AS n_bottom
FROM sel GROUP BY day
"""


@register("portfolio_daily_pnl", oracle=_PNL_ORACLE)
def portfolio_daily_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10: per-day long-short PnL + leg counts over the selected
    cross-section (trading_strategy.py:408-435)."""
    sel = cross_sectional_select(
        _signals(spark, sf_dir), "day", "signal", "user_id", percentile=0.2
    )
    out = portfolio_pnl(sel, "day", "gross")
    return out.select(
        "day",
        "pnl",
        F.col("n_top").cast("long").alias("n_top"),
        F.col("n_bottom").cast("long").alias("n_bottom"),
    )


_TOPK_ORACLE = """
SELECT user_id,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events GROUP BY 1
ORDER BY total_value DESC, user_id ASC LIMIT 5
"""


@register("topk_users", oracle=_TOPK_ORACLE)
def topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: deterministic top-k by aggregate with pinned tiebreak
    (ClOp_analysis.ipynb cell 9) — row_number, not a global sort."""
    e = load_table(spark, sf_dir, "events")
    totals = e.groupBy("user_id").agg(
        (F.sum(round_long(F.col("value") * 100)) / 100.0).alias("total_value")
    )
    return top_k(totals, "total_value", "user_id", k=5)
