"""Streaming count-min sketch: windowed frequency-sketch cells over an
unbounded key stream (the streaming twin of
queries/sketch_ops.py:countmin_heavy_hitters).

Why sketch in a stream: a per-key windowed count holds state
proportional to the live key cardinality — unbounded for tokens, URLs,
user ids. The sketch's state is depth x width cells PER LIVE WINDOW no
matter how many distinct keys arrive; the readout still answers "how
often did key k occur in window w" within the classic count-min
overestimate bound. Same portable md5-derived hashes as the batch
sketch, so a batch replay of the same data produces identical cells —
pinned by tests/test_stateful_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.queries.sketch_ops import _seeded_hash_col

# sketch shape; the cells' writer and their reader must agree on it
CM_DEPTH = 4
CM_WIDTH = 256


def window_sketch_cells(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window count-min cells (streaming or batch).

    Output: (window_start, d, cell, n) — append-mode on window close.
    State bound: depth x width cells x live windows, key-cardinality
    independent.
    """
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", "30 minutes")
    ds = F.array(*[F.lit(d) for d in range(CM_DEPTH)])
    cells = e.select(
        "ts", F.col("event_type").alias("__k"), F.explode(ds).alias("d")
    ).select(
        "ts",
        "d",
        (_seeded_hash_col(F.col("d"), F.col("__k")) % CM_WIDTH).alias("cell"),
    )
    return (
        cells.groupBy(F.window("ts", "6 hours").alias("w"), "d", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "d", "cell", "n")
    )


def sketch_estimate(cells: DataFrame, keys: DataFrame) -> DataFrame:
    """Read the sketch back for a (small) key set: per (window, key),
    est_n = min over depth rows of the hashed cell. ``keys`` is
    broadcast — the sketch never shuffles for a readout."""
    ds = F.array(*[F.lit(d) for d in range(CM_DEPTH)])
    probes = keys.select(F.col("event_type").alias("__k")).distinct().select(
        "__k", F.explode(ds).alias("d")
    ).select(
        "__k",
        "d",
        (_seeded_hash_col(F.col("d"), F.col("__k")) % CM_WIDTH).alias("cell"),
    )
    return (
        cells.join(F.broadcast(probes), ["d", "cell"])
        .groupBy("window_start", F.col("__k").alias("event_type"))
        .agg(F.min("n").alias("est_n"))
    )
