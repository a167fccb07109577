"""Streaming per-user Croston intermittent-demand forecaster via
applyInPandasWithState — the streaming twin of
queries/changepoint_ops.croston_intermittent, emitting the updated
(z_hat, q_hat) pair for every sealed demand day.

Like the Holt forecaster (holt_stream.py), day cells accumulate
order-free integer partial cent sums in state; a day is SEALED once
the watermark passes its end, and sealed demand days drain through the
exact integer-shift recursion in day order — identical to the batch
fold:

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

DAY_US = 86_400_000_000

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

STATE_SCHEMA = StructType(
    [
        StructField("seeded", LongType(), True),
        StructField("z", LongType(), True),
        StructField("q", LongType(), True),
        StructField("prev_day", LongType(), True),
        StructField("open_day", ArrayType(LongType()), True),
        StructField("open_cents", ArrayType(LongType()), True),
    ]
)


def _forecaster(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        seeded, z, q, prev_day, days, cs = state.get
        partial = dict(zip(days, cs))
    else:
        seeded, z, q, prev_day, partial = 0, 0, 0, 0, {}

    # applyInPandasWithState does NOT auto-drop rows older than the
    # watermark: a straggler for an already-SEALED day would re-create
    # that day's cell and re-seal it — a duplicate (user_id, day_us)
    # row and a negative gap_days silently corrupting the z/q
    # recursion. Drop any row whose day's seal deadline has passed
    # (d + DAY_US <= wm): the sealed-day set is exactly the days the
    # docstring's bit-equal contract covers.
    wm_us = state.getCurrentWatermarkMs() * 1000
    for pdf in pdfs:
        for r in pdf.itertuples():
            d = (int(r.ts_us) // DAY_US) * DAY_US
            if d + DAY_US <= wm_us:
                continue
            partial[d] = partial.get(d, 0) + int(r.cents)
    out: list[tuple] = []
    for d in sorted(partial):
        if wm_us < d + DAY_US:
            break
        cents = partial.pop(d)
        if not seeded:
            seeded, z, q, prev_day = 1, cents, 1, d
            out.append((user_id, d, cents, None, z, q))
        else:
            gap = (d - prev_day) // DAY_US
            z = (cents + z) >> 1
            q = (gap + q) >> 1
            prev_day = d
            out.append((user_id, d, cents, gap, z, q))

    state.update(
        (
            seeded,
            z,
            q,
            prev_day,
            sorted(partial),
            [partial[d] for d in sorted(partial)],
        )
    )
    if out:
        yield pd.DataFrame(
            out, columns=[f.name for f in OUTPUT_SCHEMA.fields]
        )


def streaming_croston_forecast(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """purchase-events stream (user_id, ts, value, ...) -> sealed
    demand-day Croston rows (user_id, day_us, cents, gap_days, z_hat,
    q_hat), append-mode; the last row per user is bit-equal to the
    batch croston_intermittent recursion over the same sealed days."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.functions.time_bins import micros

    df = events.filter(F.col("event_type") == "purchase").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.select(
            "user_id",
            "ts",
            micros("ts").alias("ts_us"),
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _forecaster,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
