"""Streaming PSI drift monitor: per-window Population Stability Index
of the `value` distribution against a STATIC baseline histogram — the
streaming production twin of queries/stats_tests.psi_drift (which
compares the two halves of a bounded window; a live monitor instead
scores each closed window against the training-time distribution).

Topology (same two-stage split as topk_stream, for the same reason —
the score is only final when the window is):

1. streaming: watermarked tumbling-window BIN COUNTS over fixed edges
   (append on window close). State is one row of B integers per live
   window — bounded by the watermark horizon, independent of stream
   length, and the aggregation is map-side combinable (conditional
   integer sums, no per-row state).
2. bounded: PSI over the CLOSED windows' count rows vs the baseline
   histogram (a python-side constant — in production the training
   histogram read from the model registry). Add-one smoothing on both
   sides keeps every share strictly positive, so no epsilon clamps.

On a batch frame the identical code path (watermark skipped) is the
test's batch twin; closed-window rows are bit-equal because both run
the same Spark expressions (pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.exact import r6

# Fixed bin edges over `value` (log-ish spacing; bin B-1 is the
# overflow bin). In production these come from the training snapshot.
PSI_EDGES = (1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0)
N_BINS = len(PSI_EDGES) + 1
PSI_ALERT = 0.2  # the industry retrain threshold


def _bin_col():
    c = F.when(F.col("value") < PSI_EDGES[0], 0)
    for i, e in enumerate(PSI_EDGES[1:], start=1):
        c = c.when(F.col("value") < e, i)
    return c.otherwise(len(PSI_EDGES))


def window_bin_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "30 minutes"
) -> DataFrame:
    """Stage 1: watermarked tumbling-window histogram counts
    (streaming or batch). One row per closed window, B integer
    columns — the only fact-scale stage."""
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", watermark)
    return (
        e.withColumn("bin", _bin_col())
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.sum((F.col("bin") == i).cast("long")).alias(f"c{i}")
                for i in range(N_BINS)
            ],
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            *[f"c{i}" for i in range(N_BINS)],
        )
    )


def psi_score(counts: DataFrame, baseline_counts: list[int]) -> DataFrame:
    """Stage 2: PSI of each (closed) window's histogram vs the static
    baseline, with add-one smoothing on both sides. O(windows) rows,
    O(bins) arithmetic per row; psi is micro-rounded once."""
    if len(baseline_counts) != N_BINS:
        raise ValueError(f"baseline must have {N_BINS} bins")
    bn = sum(baseline_counts)
    q = [(c + 1) / (bn + N_BINS) for c in baseline_counts]
    psi = F.lit(0.0)
    for i in range(N_BINS):
        p = (F.col(f"c{i}") + 1) / (F.col("n") + N_BINS)
        psi = psi + (p - F.lit(q[i])) * F.log(p / F.lit(q[i]))
    psi_r = r6(psi)
    return counts.select(
        "window_start",
        "n",
        psi_r.alias("psi"),
        (psi_r > PSI_ALERT).cast("long").alias("drift_alert"),
    )
