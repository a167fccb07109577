"""Streaming VPIN volume clock — the streaming twin of
queries/microstructure.vpin's per-bucket stage.

The volume clock is inherently sequential per key (each event's bucket
id depends on the running volume sum), which batch handles with one
per-key ordered window. On a stream, the sealed fold
(streaming/sealed.py) carries the clock across micro-batches:

- events at/above the WATERMARK are buffered (an earlier event could
  still arrive and would change every later cumulative sum)
- once the watermark passes an event's time, its clock position is
  final: buffered events below the watermark drain through the clock
  in (event-time, event_id) order — identical to the batch ordering
  because event ids are time-monotone in the LOB view
- a bucket is EMITTED (sealed) the moment a drained event lands in a
  higher bucket id: no later event can ever map back into it, since
  the cumulative sum only grows

State per key is the open bucket's accumulators plus the buffered
events inside one watermark delay — bounded by arrival rate × delay,
independent of stream length. Emitted (user_id, bucket, buy_cents,
sell_cents) rows are bit-equal to the batch kernel's per-bucket frame
for every sealed bucket (pinned in tests/test_stateful_streaming.py);
the VPIN readout itself is the downstream O(buckets) aggregation and
needs no state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dissertation_iceberg_spark.functions.exact import round_long
from dissertation_iceberg_spark.streaming.sealed import sealed_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("bucket", LongType(), False),
        StructField("buy_cents", LongType(), False),
        StructField("sell_cents", LongType(), False),
    ]
)

# open_bucket = -1 before the first drained event (bucket ids are
# always >= 0)
MODEL = {"cum": 0, "open_bucket": -1, "open_buy": 0, "open_sell": 0}


def _make_step(bucket_cents: int) -> Callable:
    def step(model: tuple, event: tuple) -> tuple[tuple, list[tuple]]:
        cum, bucket, buy, sell = model
        _, _, direction, cents = event
        cum += cents
        # max(..., 0) matches the batch kernel's clamp: zero-volume
        # prefix rows (cum = 0) belong to bucket 0, not -1 (Python //
        # floors, so without the clamp they'd open bucket -1)
        b = max(cum - 1, 0) // bucket_cents
        rows = []
        if bucket == -1:
            bucket = b
        elif b != bucket:
            rows.append((bucket, buy, sell))
            bucket, buy, sell = b, 0, 0
        if direction == 1:
            buy += cents
        else:
            sell += cents
        return (cum, bucket, buy, sell), rows

    return step


def streaming_vpin_buckets(
    events: DataFrame,
    bucket_cents: int = 500_000,
    watermark: str = "30 minutes",
) -> DataFrame:
    """events stream (user_id, ts, event_id, direction, value) ->
    sealed volume-clock buckets (user_id, bucket, buy_cents,
    sell_cents), append-mode, bit-equal to the batch VPIN kernel's
    per-bucket frame for every bucket the watermark has sealed."""
    cents = round_long(F.col("value") * 100).alias("cents")
    return sealed_fold(
        events, "user_id", ["event_id", "direction", cents], MODEL,
        _make_step(bucket_cents), OUTPUT_SCHEMA, watermark,
    )
