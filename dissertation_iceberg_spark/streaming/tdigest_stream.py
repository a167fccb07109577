"""Streaming t-digest: fixed-bounds windowed quantile sketch — the
streaming twin of queries/sketch_ops.tdigest_centroids.

The batch digest's first pass (exact global min/max) is impossible on
an unbounded stream, so the streaming variant declares the value
bounds up front (the standard fixed-histogram trade: TimescaleDB's
`uddsketch`/`tdigest` continuous aggregates and Druid's fixed-bucket
histograms make the same move). What streams is the CELL table —
per-(window, cell) (n, sum, min, max) — because those four are the
only aggregates that are simultaneously order-insensitive, mergeable
across partitions/windows, and supported in append mode behind a
watermark. Centroid formation (the asin k1 map) and the quantile
readout happen at read time over the closed windows' O(cells) rows —
the same split as hll_stream (stream registers, fold estimates at
read).

Out-of-range values clamp into the edge cells (lo/hi of the edge cell
still record the TRUE extremes, so the readout's interpolation stays
anchored to real values). A batch replay over the same data produces
bit-identical cells — pinned by tests/test_stateful_streaming.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dissertation_iceberg_spark.queries.sketch_ops import _TD_PI_MICRO
from dissertation_iceberg_spark.functions.exact import round_long

TDS_PREBINS = 256  # fixed value-space cells per window
TDS_K = 32  # centroids per window at read time
TDS_LO_CENTS = 0  # declared value bounds (cents)
TDS_HI_CENTS = 50_000


def window_tdigest_cells(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window t-digest cells (streaming or batch).

    Output: (window_start, cell, n, sum_c, min_c, max_c) — append on
    window close; at most ``TDS_PREBINS`` rows per window regardless of
    row count. All four aggregates are associative integer state, so
    any partitioning/replay produces identical rows.
    """
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", "30 minutes")
    c = round_long(F.col("value") * 100)
    span = TDS_HI_CENTS - TDS_LO_CENTS + 1
    return (
        e.select(
            "ts",
            c.alias("c"),
            ((c - F.lit(TDS_LO_CENTS)) * TDS_PREBINS).alias("__num"),
        )
        .select(
            "ts",
            "c",
            F.greatest(
                F.lit(0),
                F.least(F.lit(TDS_PREBINS - 1), F.expr(f"__num div {span}")),
            ).alias("cell"),
        )
        .groupBy(F.window("ts", "6 hours").alias("w"), "cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
            F.min("c").alias("min_c"),
            F.max("c").alias("max_c"),
        )
        .select(F.col("w.start").alias("window_start"), "cell", "n", "sum_c",
                "min_c", "max_c")
    )


def tdigest_finalize(cells: DataFrame) -> DataFrame:
    """Fold closed-window cells into per-window k1-scale centroids —
    the batch digest's pass-3 arithmetic (cumulative cell counts →
    asin micro-map → centroid merge), PARTITIONED BY window over
    O(prebins) rows per window. Output: (window_start, centroid, n,
    sum_c, lo_c, hi_c)."""
    cw = (
        Window.partitionBy("window_start")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("window_start")
    c = cells.withColumn(
        "cum_prev", F.sum("n").over(cw) - F.col("n")
    ).withColumn("n_tot", F.sum("n").over(tot))
    arg = (2 * F.col("cum_prev") + F.col("n") - F.col("n_tot")).cast(
        "double"
    ) / F.col("n_tot")
    asin_micro = round_long((F.asin(arg) + F.lit(math.pi / 2)) * 1e6)
    return (
        c.withColumn("asin_micro", asin_micro)
        .select(
            "window_start",
            F.expr(f"least(({TDS_K} * asin_micro) div {_TD_PI_MICRO}, {TDS_K - 1})")
            .alias("centroid"),
            "n",
            "sum_c",
            "min_c",
            "max_c",
        )
        .groupBy("window_start", "centroid")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_c").cast("long").alias("sum_c"),
            F.min("min_c").alias("lo_c"),
            F.max("max_c").alias("hi_c"),
        )
    )


def tdigest_window_quantiles(centroids: DataFrame) -> DataFrame:
    """Per-window quantile estimates from finalized centroids via the
    covering-centroid interpolation of the batch readout
    (tdigest_quantile_readout): the first centroid whose cumulative
    count reaches ceil(q*n) interpolates linearly between its own
    lo/hi. O(k) rows per window throughout."""
    cw = (
        Window.partitionBy("window_start")
        .orderBy("centroid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("window_start")
    cc = (
        centroids.withColumn("cum", F.sum("n").over(cw))
        .withColumn("cum_prev", F.col("cum") - F.col("n"))
        .withColumn("n_tot", F.sum("n").over(tot))
        .withColumn("q", F.explode(F.array(*[F.lit(q) for q in (0.5, 0.9, 0.99)])))
        .withColumn(
            "target", F.ceil(F.col("q") * F.col("n_tot")).cast("long")
        )
    )
    pick = (
        cc.filter(F.col("cum") >= F.col("target"))
        .groupBy("window_start", "q")
        .agg(
            F.min_by("cum_prev", "centroid").alias("cum_prev"),
            F.min_by("n", "centroid").alias("cn"),
            F.min_by("lo_c", "centroid").alias("lo_c"),
            F.min_by("hi_c", "centroid").alias("hi_c"),
            F.any_value("target").alias("target"),
        )
    )
    est = (
        F.col("lo_c").cast("double")
        + (F.col("target") - F.col("cum_prev")).cast("double")
        / F.col("cn")
        * (F.col("hi_c") - F.col("lo_c")).cast("double")
    ) / 100
    return pick.select(
        "window_start", "q", F.round(est, 6).alias("est_value")
    )
