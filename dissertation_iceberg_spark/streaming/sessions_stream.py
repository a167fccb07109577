"""Streaming sessionization: the SAME ``session_window`` aggregation
the batch operator uses (`operators/sessions.py`), with a watermark
bounding state.

Session windows are Spark's one merging window type: state per (user,
open-window) pair, merged when a new event lands within the gap, and
EMITTED (append mode) once the watermark passes ``last_ts + gap`` —
i.e. a session is final exactly when no in-order event can extend it.
State is bounded by (active users × open sessions), independent of
history length; at 100 TB-rate streams the key would be hash-partitioned
on user across the cluster, same as the batch shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.operators.sessions import sessionize


def streaming_sessions(
    events: DataFrame, gap: str = "6 hours", watermark: str = "30 minutes"
) -> DataFrame:
    """readStream frame -> watermarked gap-sessions (append-mode final
    sessions). On a batch frame this is exactly ``sessionize`` — which
    is how the test pins streaming output == batch output."""
    # event time must be TIMESTAMP (LTZ): parquet written from pandas
    # arrives as TIMESTAMP_NTZ, which withWatermark rejects; the cast
    # reads the wall clock in the session tz (pinned UTC) and is a
    # no-op for LTZ inputs
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        # session_window must range over the watermarked column itself
        df = df.withWatermark("ts", watermark)
    return sessionize(df, gap=gap)
