"""Streaming A/B conversion monitor: windowed two-proportion z-scores
(SURVEY §2.11 extension; batch twin `two_proportion_ztest` in
queries/stats_tests.py).

Each tumbling window emits per-arm event and conversion counts plus
the pooled two-proportion z-score — the live experiment dashboard
readout. The aggregation is a plain watermarked windowed count
(stateless beyond the window store: no arbitrary state, state is
bounded by watermark/window as usual), and the z formula evaluates
row-at-a-time on the O(windows) output — all JVM-side.

At 100 TB-equivalent stream rates the groupBy key would carry the
experiment id next to the window; counts are map-side combinable so
the shuffle moves only partial counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_abtest(events: DataFrame, window_sec: int) -> DataFrame:
    """readStream frame with (ts, arm∈{0,1}, conv∈{0,1}) -> one row per
    tumbling window: per-arm counts, conversion rates, and pooled
    z-score. Works identically on batch frames, which is how the test
    pins streaming output == batch output."""
    # parquet fixtures carry TIMESTAMP_NTZ; watermarks require TIMESTAMP
    df = events.withColumn("__ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("__ts", "1 hour")
    arm, conv = F.col("arm"), F.col("conv")
    agg = df.groupBy(
        F.window(F.col("__ts"), f"{int(window_sec)} seconds").alias("win")
    ).agg(
        F.sum(F.when(arm == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(arm == 1, conv).otherwise(0)).alias("c1"),
        F.sum(F.when(arm == 0, conv).otherwise(0)).alias("c0"),
    )
    n1, n0, c1, c0 = (F.col(x) for x in ("n1", "n0", "c1", "c0"))
    p1 = c1.cast("double") / n1
    p0 = c0.cast("double") / n0
    pp = (c1 + c0).cast("double") / (n1 + n0)
    denom = F.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0))
    z = F.when(
        (n1 > 0) & (n0 > 0) & (denom > 0), (p1 - p0) / denom
    )
    return agg.select(
        F.col("win.end").alias("win_end"),
        "n1",
        "n0",
        "c1",
        "c0",
        F.round(p1, 6).alias("rate1"),
        F.round(p0, 6).alias("rate0"),
        F.round(z, 6).alias("z_score"),
    )
