"""One watermark-sealed fold behind the stateful streaming monitors.

The day-cell monitors (anomaly, records, holt, croston) and the
event-buffer operators (vpin, funnel, attribution) run the same
per-key machine through ``applyInPandasWithState``; each differs only
in its model and recurrence. This module owns the machine:

- every row becomes an ITEM: a day cell (the day's start, holding the
  integer sum of the rows' values for that day) or the row itself
  (``ts_us`` followed by the operator's integer item columns);
- an item is SEALED once the watermark reaches its seal point, the end
  of its day or the microsecond after its event: no row for it can
  arrive any more, so it is final;
- ingest drops every new row whose item is already sealed.
  ``applyInPandasWithState`` does not drop rows below the watermark
  itself, and a straggler folded in would re-create a sealed day (a
  duplicate output row) or land in a later item, giving a value no
  batch run gives. Structured Streaming's late-data contract lets a
  late row be dropped, never half-applied;
- sealed items drain in ascending order through ``step(model, item)
  -> (model, rows)``; each returned row is emitted with the key in
  front. A fold over final items in event-time order is the batch
  fold over the same items, so sealed output is bit-equal to batch.

State per key is the model fields plus the open items as parallel
arrays: one integer partial per open day for day cells, the rows
inside one watermark delay for event buffers. Both are bounded by the
watermark horizon, independent of stream length.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from dissertation_iceberg_spark.functions.time_bins import micros

DAY_US = 86_400_000_000


def sealed_fold(
    events: DataFrame,
    key: str,
    items: list[str | Column],
    model: dict[str, int | list],
    step: Callable[[tuple, tuple], tuple[tuple, list[tuple]]],
    output_schema: StructType,
    watermark: str,
    day_cells: bool = False,
) -> DataFrame:
    """events (key, ts, ...) -> append-mode rows of ``output_schema``
    (the key, then each row ``step`` returns), emitted once the
    watermark seals the items they come from.

    ``items`` are the named integer columns carried after ``ts_us``;
    with ``day_cells`` there is exactly one, summed per day. ``model``
    maps each model field to its initial value: an int is a BIGINT
    field, a list an array of BIGINT."""
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    df = df.select(key, "ts", micros("ts").alias("ts_us"), *items)
    cols = df.columns[2:]
    span = DAY_US if day_cells else 1
    n_model = len(model)
    state_schema = StructType(
        [
            StructField(n, ArrayType(LongType()) if isinstance(v, list) else LongType())
            for n, v in model.items()
        ]
        + [StructField(f"open_{c}", ArrayType(LongType())) for c in cols]
    )

    def fold(
        key_values: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            saved = state.get
            values, open_items = saved[:n_model], list(zip(*saved[n_model:]))
        else:
            values, open_items = tuple(model.values()), []
        wm_us = state.getCurrentWatermarkMs() * 1000

        def sealed(item: tuple) -> bool:
            return item[0] + span <= wm_us

        for pdf in pdfs:
            for row in pdf[cols].to_numpy().tolist():
                row[0] -= row[0] % span  # a day cell starts at its day
                if not sealed(row):
                    open_items.append(tuple(row))
        if day_cells:
            cells: dict[int, int] = {}
            for day, v in open_items:
                cells[day] = cells.get(day, 0) + v
            open_items = list(cells.items())
        open_items.sort()

        ready = [item for item in open_items if sealed(item)]  # a prefix
        out = []
        for item in ready:
            values, rows = step(values, item)
            out.extend((*key_values, *r) for r in rows)
        open_items = open_items[len(ready):]
        arrays = ([item[i] for item in open_items] for i in range(len(cols)))
        state.update((*values, *arrays))
        if out:
            yield pd.DataFrame(out, columns=output_schema.names)

    return df.groupBy(key).applyInPandasWithState(
        fold, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
