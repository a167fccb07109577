"""Streaming per-key record-high monitor — the streaming twin of
queries/changepoint_ops.record_highs' counting stage: every
watermark-sealed day emits whether that day set a new all-time high
of summed value for its event type, plus the running record count.

Same sealed day-cell fold as the EWMA/Holt monitors
(streaming/sealed.py): open days accumulate order-free integer cent
sums in state; a day is SEALED once the watermark passes its end and
drains in day order through the running-max state — identical to the
batch exclusive running-max window. State per key is (running max,
record count) plus open-day partials bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dissertation_iceberg_spark.functions.exact import round_long
from dissertation_iceberg_spark.streaming.sealed import sealed_fold

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
MODEL = {"seeded": 0, "run_max": 0, "n_records": 0}


def _step(model: tuple, cell: tuple) -> tuple[tuple, list[tuple]]:
    seeded, run_max, n_records = model
    day, cents = cell
    is_rec = 1 if (not seeded or cents > run_max) else 0
    if is_rec:
        run_max, n_records = cents, n_records + 1
    return (1, run_max, n_records), [(day, cents, is_rec, n_records)]


def streaming_record_highs(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """events stream (event_type, ts, value) -> sealed daily rows
    (event_type, day_us, cents, is_record, n_records), append-mode;
    sealed rows reproduce the batch exclusive-running-max record
    flags exactly."""
    cents = round_long(F.col("value") * 100).alias("cents")
    return sealed_fold(
        events, "event_type", [cents], MODEL, _step, OUTPUT_SCHEMA, watermark,
        day_cells=True,
    )
