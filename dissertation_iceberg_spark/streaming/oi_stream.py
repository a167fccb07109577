"""Structured Streaming variant of the OI kernel (SURVEY §2.11, §7
step 10).

The reference is batch-only; its tumbling-bin OI maps 1:1 onto a
streaming window aggregation with a watermark for late data. Bin
labels must match the batch engine's ceil semantics: ``window()`` is
end-exclusive ([start, end)), while pandas ceil keeps boundary events
at the boundary — shifting event time back 1 µs before windowing makes
``window.end`` equal the ceil label for every timestamp (only exact
boundary values change windows under the shift).

State & scale: tumbling windows + watermark bound the state store to
(watermark / delta) windows per key; output mode 'append' emits each
bin once it is final. At 100 TB-equivalent stream rates the grouping
key would be (ticker, window), partitioned by ticker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.operators.order_imbalance import oi_expr


def streaming_oi(
    events: DataFrame,
    delta_sec: int,
    ts_col: str = "ts",
    dir_col: str = "direction",
    size_col: str = "size",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """readStream frame -> watermarked tumbling-window conditional OI.

    Works identically on batch frames (window() is batch-compatible),
    which is how tests pin streaming output == batch kernel output.
    """
    # materialize the ceil-parity shift as a column BEFORE the
    # watermark: Spark only links a watermark to a window whose time
    # column IS the watermarked column, not an expression over it
    df = events.withColumn(
        "__ts_shift",
        F.expr(f"CAST({ts_col} AS TIMESTAMP) - INTERVAL 1 MICROSECOND"),
    )
    win = F.window(F.col("__ts_shift"), f"{int(delta_sec)} seconds")
    if df.isStreaming:
        df = df.withWatermark("__ts_shift", watermark)
    return (
        df.groupBy(*(group_cols or []), win.alias("win"))
        .agg(
            oi_expr(F.col(dir_col), F.col(size_col)).alias("order_imbalance"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            *(group_cols or []),
            F.col("win.end").alias("bin"),
            "order_imbalance",
            "n_events",
        )
    )
