"""Feature-engineering window operators (SURVEY §2.5 W2-W3, §2.8).

Reference parity:
- W2 prev/next direction of event type k: prediction_ML_pipeline.py:
  135-146 (``direction_adjacent_event``: mask + shift + ffill/bfill,
  fill 0) — expressed as last/first ignoreNulls over one-sided frames.
- W3 rolling trade sentiment: prediction_ML_pipeline.py:149-174
  (np.select signed size, rolling(5).sum() backward and forward).

All pure window expressions — one shuffle on the partition keys, no
UDFs, codegen-friendly. At 100 TB partitions are (ticker, date) so each
window scan is one ticker-day.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def adjacent_direction(
    df: DataFrame,
    type_pred: Column,
    dir_col: str,
    partition_cols: list[str],
    order_cols: list[str],
    prev_name: str,
    next_name: str,
) -> DataFrame:
    """prev = last direction of matching rows strictly before (ffill),
    next = first direction of matching rows strictly after (bfill);
    0 when none exists (reference fill)."""
    base = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    # bfill as a RUNNING frame over the reversed (total) order — the
    # literal `first OVER (1, UNBOUNDED FOLLOWING)` executes as
    # Spark's UnboundedFollowing frame, which rescans to the partition
    # end for every row: O(rows²) per partition (round 8)
    rev = Window.partitionBy(*partition_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    masked = F.when(type_pred, F.col(dir_col))
    prev = F.last(masked, ignorenulls=True).over(
        base.rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.last(masked, ignorenulls=True).over(
        rev.rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.withColumn(prev_name, F.coalesce(prev, F.lit(0))).withColumn(
        next_name, F.coalesce(nxt, F.lit(0))
    )


def rolling_sentiment(
    df: DataFrame,
    signed_col: Column,
    partition_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Backward and forward rolling 5-row sums of a signed-size column
    (``sent_back``, ``sent_fwd``)."""
    base = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    back = F.sum(signed_col).over(base.rowsBetween(-4, 0))
    fwd = F.sum(signed_col).over(base.rowsBetween(0, 4))
    return df.withColumn("sent_back", back).withColumn("sent_fwd", fwd)


def signed_size(
    event_type: Column,
    direction: Column,
    size: Column,
    plus_types: Column,
    minus_types: Column,
) -> Column:
    """np.select parity (prediction_ML_pipeline.py:151-165):
    +dir*size for submit/exec types, -dir*size for deletes, else 0."""
    return (
        F.when(plus_types, direction * size)
        .when(minus_types, -direction * size)
        .otherwise(F.lit(0.0))
    )
