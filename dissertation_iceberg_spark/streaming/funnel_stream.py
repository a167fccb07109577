"""Streaming first-touch funnel (view -> click -> purchase) — the
streaming twin of queries/behavior_ops.funnel_conversion's per-user
step frames.

Batch computes each user's step-conversion times with three chained
min-aggregates (t1 = first view; t2 = first click at-or-after t1;
t3 = first purchase at-or-after t2).  On a stream the sealed fold
(streaming/sealed.py) runs the same machine incrementally per user:

- events BELOW the watermark form a complete, immutable prefix, so
  they can be folded in event-time order; folded step times can never
  be invalidated by later arrivals (anything older is dropped at
  ingest) -> each step time is FINAL the moment it is set, and is
  emitted exactly once, right then;
- events at-or-above the watermark are buffered in state (an
  out-of-order view could still precede them), bounded by one
  watermark-delay's worth of events per user;
- the funnel register itself is three longs per user — state is
  O(active users), independent of history length, hash-partitioned on
  user across the cluster exactly like the batch shuffle.

Fold order (ts, step, event_id) is total, so a click landing on the
same microsecond as the first view deterministically counts (view
sorts first via step rank), byte-identical to the batch twin's
``>=`` join conditions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dissertation_iceberg_spark.streaming.sealed import sealed_fold

FUNNEL_STEPS = ("view", "click", "purchase")

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("step", LongType(), False),
        StructField("t_us", LongType(), False),
    ]
)

# step times t1..t3, -1 = not reached yet
MODEL = {"t1": -1, "t2": -1, "t3": -1}


def _step(model: tuple, event: tuple) -> tuple[tuple, list[tuple]]:
    ts, step, _ = event
    t = list(model)
    if t[step - 1] >= 0 or (step > 1 and t[step - 2] < 0):
        return model, []
    t[step - 1] = ts
    return tuple(t), [(step, ts)]


def streaming_funnel(
    events: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """readStream events -> append-mode (user_id, step, t_us) rows,
    one per finalized funnel step.  On a batch frame use
    :func:`batch_funnel_steps` — the twin the test pins against."""
    step = F.array_position(F.array(*map(F.lit, FUNNEL_STEPS)), F.col("event_type"))
    return sealed_fold(
        events.filter(F.col("event_type").isin(*FUNNEL_STEPS)), "user_id",
        [step.alias("step"), "event_id"], MODEL, _step, OUTPUT_SCHEMA, watermark,
    )


def batch_funnel_steps(events: DataFrame) -> DataFrame:
    """Batch twin: per-user finalized step times via the same chained
    min-aggregates funnel_conversion uses (first view; first click
    at-or-after it; first purchase at-or-after that)."""
    e = events.withColumn("ts", F.col("ts").cast("timestamp")).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(F.col("us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    rows = [
        s1.select("user_id", F.lit(1).cast("long").alias("step"), F.col("t1").alias("t_us")),
        s2.select("user_id", F.lit(2).cast("long").alias("step"), F.col("t2").alias("t_us")),
        s3.select("user_id", F.lit(3).cast("long").alias("step"), F.col("t3").alias("t_us")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
