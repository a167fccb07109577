"""Preprocessing operators (SURVEY §2.2 P1-P3, §2.5 W1).

Reference parity:
- P1 trading-hours filter: prediction_ML_pipeline.py:108-117 (pandas
  ``between_time``, inclusive both ends)
- P2 keep-first dedup: prediction_ML_pipeline.py:119-121
- W1 event numbering + burst size: prediction_ML_pipeline.py:99-103

Scale notes: the trading-hours filter is a pure predicate on integer
microseconds -> pushes into the parquet scan. Dedup and numbering
shuffle once on their partition keys; at 100 TB those keys are
(ticker, date)-prefixed so partitions stay bounded by one ticker-day.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros

US_PER_DAY = 86_400 * 1_000_000


def seconds_of_day_us(ts_col: str | Column) -> Column:
    return micros(ts_col) % US_PER_DAY


def trading_hours_filter(df: DataFrame) -> DataFrame:
    """Events whose ``ts`` falls in 10:00:00-15:30:00 (the prod window,
    BASELINE.md), inclusive like pandas between_time."""
    sod = seconds_of_day_us("ts")
    return df.filter(sod.between(36_000 * 1_000_000, 55_800 * 1_000_000))


def dedup_first(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Order-stable keep-first dedup: deterministic row_number()==1 per key.

    (``dropDuplicates`` is partition-order dependent; an explicit ordering
    column makes the result reproducible and oracle-comparable.)
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def event_number(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
) -> DataFrame:
    """0-based position within simultaneous-event groups
    (``event_number``) + group size (``event_number_at_t``)."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    wp = Window.partitionBy(*group_cols)
    return df.withColumn("event_number", F.row_number().over(w) - 1).withColumn(
        "event_number_at_t", F.count(F.lit(1)).over(wp)
    )
