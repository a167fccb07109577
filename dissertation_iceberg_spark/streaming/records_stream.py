"""Streaming per-key record-high monitor via applyInPandasWithState —
the streaming twin of queries/changepoint_ops.record_highs' counting
stage: every watermark-sealed day emits whether that day set a new
all-time high of summed value for its event type, plus the running
record count.

Same sealing discipline as the EWMA/Holt monitors (anomaly_stream.py,
holt_stream.py): open days accumulate order-free integer cent sums in
state; a day is SEALED once the watermark passes its end and drains in
day order through the running-max state — identical to the batch
exclusive running-max window. State per key is (running max, record
count) plus open-day partials bounded by the watermark horizon.
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

DAY_US = 86_400_000_000

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("day_us", LongType(), False),
        StructField("cents", LongType(), False),
        StructField("is_record", LongType(), False),
        StructField("n_records", LongType(), False),
    ]
)

# seeded = 0 before the first sealed day (cent sums can be any sign)
STATE_SCHEMA = StructType(
    [
        StructField("seeded", LongType(), True),
        StructField("run_max", LongType(), True),
        StructField("n_records", LongType(), True),
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
        seeded, run_max, n_records, days, cents = state.get
        partial = dict(zip(days, cents))
    else:
        seeded, run_max, n_records, partial = 0, 0, 0, {}

    # drop sub-watermark stragglers at ingest (round 6, all day-cell
    # ops): a row for an already-sealed day would re-create the cell
    # and emit a duplicate (key, day_us) row corrupting the record fold
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
        is_rec = 1 if (not seeded or c > run_max) else 0
        if is_rec:
            run_max = c
            n_records += 1
        seeded = 1
        out.append((event_type, d, c, is_rec, n_records))

    state.update(
        (
            seeded,
            run_max,
            n_records,
            sorted(partial),
            [partial[d] for d in sorted(partial)],
        )
    )
    if out:
        yield pd.DataFrame(
            out,
            columns=["event_type", "day_us", "cents", "is_record", "n_records"],
        )


def streaming_record_highs(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """events stream (event_type, ts, value) -> sealed daily rows
    (event_type, day_us, cents, is_record, n_records), append-mode;
    sealed rows reproduce the batch exclusive-running-max record
    flags exactly."""
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
