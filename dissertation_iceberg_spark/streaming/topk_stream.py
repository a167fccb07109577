"""Streaming top-k: per-window heavy hitters from a watermarked
windowed count.

Structured Streaming cannot rank inside the streaming query (ORDER BY
/ LIMIT / window-functions over an unbounded stream are unsupported by
design — rank is only final when the window is), so the canonical
topology is two stages:

1. streaming: watermarked tumbling-window counts per key (bounded
   state: keys x live windows), append-mode output on window close;
2. ranking: a bounded follow-up over the CLOSED windows — in
   production a second reader over the sink table, here the same
   ``rank_topk`` applied to the sink contents.

State never holds more than the per-key counts; the rank never sees an
open window. On a batch frame the identical code path (watermark
skipped, counts + rank fused in one plan) is the test's batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_key_counts(events: DataFrame) -> DataFrame:
    """Stage 1: watermarked tumbling-window counts per key (streaming
    or batch)."""
    # NTZ -> LTZ (session tz pinned UTC): withWatermark requires it
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", "30 minutes")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def rank_topk(counts: DataFrame) -> DataFrame:
    """Stage 2: the top 3 keys per closed window. Partitioned by window —
    never a global sort; ties break on the key for determinism."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
