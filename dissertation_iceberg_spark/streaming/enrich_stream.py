"""Stream-static join: watermarked windowed aggregation over a stream
enriched by a static dimension.

The third join shape Structured Streaming supports (alongside
stream-stream and batch): the static side is planned per micro-batch
like any batch relation — broadcast when small — and needs no
watermark, because it never adds state. Only the windowed aggregate
keeps state, bounded by (watermark / window) windows per segment.

At scale this is the canonical "enrich events with a dimension, roll
up per segment" topology: dimension updates take effect on the next
micro-batch without restarting the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.exact import round_long


def segment_window_counts(events: DataFrame, segments: DataFrame) -> DataFrame:
    """Events joined to a (user_id, segment) static dim, counted per
    (segment, tumbling window). Identical code path on a batch frame
    (watermark skipped) — the test's batch twin."""
    # NTZ -> LTZ (session tz pinned UTC): withWatermark requires it
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", "30 minutes")
    joined = e.join(F.broadcast(segments), "user_id")
    return (
        joined.groupBy(F.window("ts", "6 hours").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(round_long(F.col("value") * 100)).alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            (F.col("cents") / F.lit(1e2)).alias("window_value"),
        )
    )
