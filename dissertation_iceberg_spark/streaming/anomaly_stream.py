"""Streaming per-key daily EWMA anomaly monitor — the streaming twin of
queries/misc.ewma_daily_by_type, extended with an integer anomaly
flag.

Day cells are inherently sequential per key (each day's smoothed value
depends on the previous day's EWMA), which batch handles with an
ordered array fold. On a stream, the sealed fold (streaming/sealed.py)
sums each day's cents into an order-free integer cell and, once the
watermark passes the day's end, drains sealed days in day order
through the batch recurrence:

    ewma' = (200*cents + 800*ewma) // 1000     (seed: first day's cents)

plus an anomaly flag from exact integer comparison against the
PRE-update EWMA (cents > 2*ewma or 2*cents < ewma).

State per key is one integer EWMA plus the open (unsealed) day
partials inside the watermark horizon — bounded by the watermark
delay, independent of stream length. Sealed rows are bit-equal to the
batch query for every sealed day (pinned in
tests/test_stateful_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dissertation_iceberg_spark.functions.exact import round_long
from dissertation_iceberg_spark.streaming.sealed import sealed_fold

EWMA_A_NUM = 200
EWMA_DEN = 1000

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day_us", LongType(), False),
        StructField("cents", LongType(), False),
        StructField("ewma_cents", LongType(), False),
        StructField("anomaly", LongType(), False),
    ]
)

# ewma = -1 before the first sealed day (cents sums are nonnegative)
MODEL = {"ewma": -1}


def _step(model: tuple, cell: tuple) -> tuple[tuple, list[tuple]]:
    (ewma,) = model
    day, cents = cell
    if ewma < 0:
        return (cents,), [(day, cents, cents, 0)]
    new = (EWMA_A_NUM * cents + (EWMA_DEN - EWMA_A_NUM) * ewma) // EWMA_DEN
    anomaly = 1 if (cents > 2 * ewma or 2 * cents < ewma) else 0
    return (new,), [(day, cents, new, anomaly)]


def streaming_daily_ewma_anomalies(events: DataFrame) -> DataFrame:
    """events stream (event_type, ts, value) -> sealed daily EWMA rows
    (event_type, day_us, cents, ewma_cents, anomaly), append-mode,
    bit-equal to the batch ewma_daily_by_type fold for every day the
    watermark has sealed."""
    cents = round_long(F.col("value") * 100).alias("cents")
    return sealed_fold(
        events, "event_type", [cents], MODEL, _step, OUTPUT_SCHEMA, "30 minutes",
        day_cells=True,
    )
