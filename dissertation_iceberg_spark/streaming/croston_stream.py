"""Streaming per-user Croston intermittent-demand forecaster — the
streaming twin of queries/changepoint_ops.croston_intermittent,
emitting the updated (z_hat, q_hat) pair for every sealed demand day.

Like the Holt forecaster (holt_stream.py), day cells accumulate
order-free integer partial cent sums in state (streaming/sealed.py);
a day is SEALED once the watermark passes its end, and sealed demand
days drain through the exact integer-shift recursion in day order —
identical to the batch fold:

    z' = (cents + z) >> 1            (demand-size SES, alpha = 1/2)
    q' = (gap_days + q) >> 1         (interval SES, alpha = 1/2)

seeded z = first sealed demand's cents, q = 1. Days with NO demand
never materialize a cell — intermittency enters only through the day
gap, exactly as in the batch recursion. State per key is (seeded, z,
q, prev_day) plus open-day partials inside the watermark horizon —
bounded by the watermark delay, independent of stream length. The
final sealed row per user is bit-equal to the batch recursion (pinned
in tests/test_stateful_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dissertation_iceberg_spark.functions.exact import round_long
from dissertation_iceberg_spark.streaming.sealed import DAY_US, sealed_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("day_us", LongType(), False),
        StructField("cents", LongType(), False),
        StructField("gap_days", LongType(), True),
        StructField("z_hat", LongType(), False),
        StructField("q_hat", LongType(), False),
    ]
)

MODEL = {"seeded": 0, "z": 0, "q": 0, "prev_day": 0}


def _step(model: tuple, cell: tuple) -> tuple[tuple, list[tuple]]:
    seeded, z, q, prev_day = model
    day, cents = cell
    if not seeded:
        return (1, cents, 1, day), [(day, cents, None, cents, 1)]
    gap = (day - prev_day) // DAY_US
    z, q = (cents + z) >> 1, (gap + q) >> 1
    return (1, z, q, day), [(day, cents, gap, z, q)]


def streaming_croston_forecast(events: DataFrame) -> DataFrame:
    """purchase-events stream (user_id, ts, value, ...) -> sealed
    demand-day Croston rows (user_id, day_us, cents, gap_days, z_hat,
    q_hat), append-mode; the last row per user is bit-equal to the
    batch croston_intermittent recursion over the same sealed days."""
    cents = round_long(F.col("value") * 100).alias("cents")
    return sealed_fold(
        events.filter(F.col("event_type") == "purchase"), "user_id", [cents],
        MODEL, _step, OUTPUT_SCHEMA, "30 minutes", day_cells=True,
    )
