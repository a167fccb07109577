"""Streaming per-key Holt (level + trend) forecaster — the streaming
twin of queries/changepoint_ops.holt_linear_forecast, emitting a
one-step forecast and its error for every sealed day.

Like the EWMA monitor (anomaly_stream.py), day cells accumulate
order-free integer partial counts in state (streaming/sealed.py); a
day is SEALED once the watermark passes its end, and sealed days drain
through the exact integer-shift recursion in day order — identical to
the batch fold:

    l' = (y - 0 + l + b) >> 1        (no seasonal term in Holt)
    b' = (l' - l + b) >> 1           (alpha = beta = 1/2)

seeded l = first sealed day's count, b = 0. Each emitted row carries
the day's count, the PRE-update forecast l + b (what the model
predicted for this day before seeing it), the signed integer forecast
error, and the post-update level/trend. State per key is (l, b,
seeded flag) plus open-day partials inside the watermark horizon —
bounded by the watermark delay, independent of stream length. Sealed
rows are bit-equal to the batch recursion (pinned in
tests/test_stateful_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dissertation_iceberg_spark.streaming.sealed import sealed_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day_us", LongType(), False),
        StructField("y", LongType(), False),
        StructField("forecast", LongType(), True),
        StructField("error", LongType(), True),
        StructField("level", LongType(), False),
        StructField("trend", LongType(), False),
    ]
)

# seeded = 0 before the first sealed day
MODEL = {"seeded": 0, "l": 0, "b": 0}


def _step(model: tuple, cell: tuple) -> tuple[tuple, list[tuple]]:
    seeded, l, b = model
    day, y = cell
    if not seeded:
        return (1, y, 0), [(day, y, None, None, y, 0)]
    fc = l + b
    l_new = (y + l + b) >> 1
    b_new = (l_new - l + b) >> 1
    return (1, l_new, b_new), [(day, y, fc, y - fc, l_new, b_new)]


def streaming_holt_forecast(events: DataFrame) -> DataFrame:
    """events stream (event_type, ts, ...) -> sealed daily Holt rows
    (event_type, day_us, y, forecast, error, level, trend),
    append-mode, bit-equal to the batch holt_linear_forecast
    integer-shift recursion for every sealed day."""
    return sealed_fold(
        events, "event_type", [F.lit(1).alias("y")], MODEL, _step,
        OUTPUT_SCHEMA, "30 minutes", day_cells=True,
    )
