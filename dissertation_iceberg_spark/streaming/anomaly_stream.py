"""Streaming per-key daily EWMA anomaly monitor via
applyInPandasWithState — the streaming twin of
queries/misc.ewma_daily_by_type, extended with an integer anomaly
flag.

Day cells are inherently sequential per key (each day's smoothed value
depends on the previous day's EWMA), which batch handles with an
ordered array fold. On a stream, per-key state carries the EWMA across
micro-batches:

- arriving events accumulate into per-day partial cents sums held in
  state (a day cell is a running integer sum — order-free)
- a day is SEALED once the watermark passes its end: no event with a
  timestamp inside that day can arrive anymore, so its cents total is
  final; sealed days drain through the EWMA recurrence in day order —
  identical to the batch fold
- the emitted row carries the same integer recurrence value
  ewma' = (200*cents + 800*ewma) // 1000 (seed: first day's cents)
  plus an anomaly flag from exact integer comparison against the
  PRE-update EWMA (cents > 2*ewma or 2*cents < ewma)

State per key is one integer EWMA plus the open (unsealed) day
partials inside the watermark horizon — bounded by the watermark
delay, independent of stream length. Sealed rows are bit-equal to the
batch query for every sealed day (pinned in
tests/test_stateful_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from dissertation_iceberg_spark.functions.exact import round_long

EWMA_A_NUM = 200
EWMA_DEN = 1000
DAY_US = 86_400_000_000

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day_us", LongType(), False),
        StructField("cents", LongType(), False),
        StructField("ewma_cents", LongType(), False),
        StructField("anomaly", LongType(), False),
    ]
)

# ewma = -1 before the first sealed day (cents sums are nonnegative);
# open days ride as parallel (day_us, cents) arrays.
STATE_SCHEMA = StructType(
    [
        StructField("ewma", LongType(), True),
        StructField("open_day", ArrayType(LongType()), True),
        StructField("open_cents", ArrayType(LongType()), True),
    ]
)


def _monitor(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        ewma, days, cents = state.get
        partial = dict(zip(days, cents))
    else:
        ewma, partial = -1, {}

    # drop sub-watermark stragglers at ingest (round 6, all day-cell
    # ops): a row for an already-sealed day would re-create the cell
    # and emit a duplicate (key, day_us) row corrupting the EWMA fold
    wm_us = state.getCurrentWatermarkMs() * 1000
    for pdf in pdfs:
        for r in pdf.itertuples():
            d = (int(r.ts_us) // DAY_US) * DAY_US
            if d + DAY_US <= wm_us:
                continue
            partial[d] = partial.get(d, 0) + int(r.cents)

    out: list[tuple[str, int, int, int, int]] = []
    for d in sorted(partial):
        if wm_us < d + DAY_US:
            break
        c = partial.pop(d)
        if ewma < 0:
            new_ewma, anomaly = c, 0
        else:
            new_ewma = (EWMA_A_NUM * c + (EWMA_DEN - EWMA_A_NUM) * ewma) // (
                EWMA_DEN
            )
            anomaly = 1 if (c > 2 * ewma or 2 * c < ewma) else 0
        out.append((event_type, d, c, new_ewma, anomaly))
        ewma = new_ewma

    state.update((ewma, sorted(partial), [partial[d] for d in sorted(partial)]))
    if out:
        yield pd.DataFrame(
            out,
            columns=["event_type", "day_us", "cents", "ewma_cents", "anomaly"],
        )


def streaming_daily_ewma_anomalies(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """events stream (event_type, ts, value) -> sealed daily EWMA rows
    (event_type, day_us, cents, ewma_cents, anomaly), append-mode,
    bit-equal to the batch ewma_daily_by_type fold for every day the
    watermark has sealed."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.functions.time_bins import micros

    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.select(
            "event_type",
            "ts",
            micros("ts").alias("ts_us"),
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            _monitor,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
