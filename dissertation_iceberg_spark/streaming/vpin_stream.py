"""Streaming VPIN volume clock via applyInPandasWithState — the
streaming twin of queries/microstructure.vpin's per-bucket stage.

The volume clock is inherently sequential per key (each event's bucket
id depends on the running volume sum), which batch handles with one
per-key ordered window. On a stream, per-key state carries the clock
across micro-batches:

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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)
from dissertation_iceberg_spark.functions.exact import round_long

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("bucket", LongType(), False),
        StructField("buy_cents", LongType(), False),
        StructField("sell_cents", LongType(), False),
    ]
)

# clock: (cum, open_bucket, open_buy, open_sell); buffer: parallel
# arrays (us, event_id, direction, cents). open_bucket = -1 before the
# first drained event (bucket ids are always >= 0).
STATE_SCHEMA = StructType(
    [
        StructField("cum", LongType(), True),
        StructField("open_bucket", LongType(), True),
        StructField("open_buy", LongType(), True),
        StructField("open_sell", LongType(), True),
        StructField("buf_us", ArrayType(LongType()), True),
        StructField("buf_id", ArrayType(LongType()), True),
        StructField("buf_dir", ArrayType(LongType()), True),
        StructField("buf_cents", ArrayType(LongType()), True),
    ]
)


def _make_clock(bucket_cents: int):
    def clock(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            cum, open_bucket, open_buy, open_sell, b_us, b_id, b_dir, b_c = (
                state.get
            )
            buf = list(zip(b_us, b_id, b_dir, b_c))
        else:
            cum, open_bucket, open_buy, open_sell = 0, -1, 0, 0
            buf = []

        for pdf in pdfs:
            for r in pdf.itertuples():
                buf.append(
                    (int(r.ts_us), int(r.event_id), int(r.direction), int(r.cents))
                )
        buf.sort()

        wm_us = state.getCurrentWatermarkMs() * 1000
        out: list[tuple[int, int, int, int]] = []
        pending = []
        for us, eid, direction, cents in buf:
            if us >= wm_us:
                pending.append((us, eid, direction, cents))
                continue
            cum += cents
            # max(..., 0) matches the batch kernel's clamp: zero-volume
            # prefix rows (cum = 0) belong to bucket 0, not -1 (Python
            # // floors, so without the clamp they'd open bucket -1)
            b = max(cum - 1, 0) // bucket_cents
            if open_bucket == -1:
                open_bucket = b
            elif b != open_bucket:
                out.append((user_id, open_bucket, open_buy, open_sell))
                open_bucket, open_buy, open_sell = b, 0, 0
            if direction == 1:
                open_buy += cents
            else:
                open_sell += cents

        state.update((
            cum,
            open_bucket,
            open_buy,
            open_sell,
            [p[0] for p in pending],
            [p[1] for p in pending],
            [p[2] for p in pending],
            [p[3] for p in pending],
        ))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "bucket", "buy_cents", "sell_cents"]
            )

    return clock


def streaming_vpin_buckets(
    events: DataFrame,
    bucket_cents: int = 500_000,
    watermark: str = "30 minutes",
) -> DataFrame:
    """events stream (user_id, ts, event_id, direction, value) ->
    sealed volume-clock buckets (user_id, bucket, buy_cents,
    sell_cents), append-mode, bit-equal to the batch VPIN kernel's
    per-bucket frame for every bucket the watermark has sealed."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.functions.time_bins import micros

    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.select(
            "user_id",
            "ts",
            micros("ts").alias("ts_us"),
            "event_id",
            "direction",
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_clock(bucket_cents),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
