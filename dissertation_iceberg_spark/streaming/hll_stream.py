"""Streaming HyperLogLog: windowed distinct-cardinality registers over
an unbounded key stream (the streaming twin of
queries/sketch_ops.hll_distinct, completing the streaming sketch pair
with countmin_stream).

Why sketch distincts in a stream: windowed count(DISTINCT key) is not
supported in append mode and its exact state is O(distinct keys per
live window); the HLL register table is m rows per live window no
matter how many distinct keys arrive, and max() is one of the few
aggregates that is simultaneously order-insensitive, idempotent under
replay of the same key, and mergeable across windows/partitions —
which is exactly why the register (not the estimate) is the streamed
object. Same portable md5-derived hash as the batch sketch, so a
batch replay produces identical registers — pinned by
tests/test_stateful_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.hashing import hash60
from dissertation_iceberg_spark.queries.sketch_ops import (
    _HLL_M,
    _HLL_NUM,
    _HLL_SHIFT,
    _HLL_WBITS,
)


def window_hll_registers(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window HLL registers (streaming or batch).

    Output: (window_start, bucket, m) — append on window close; at most
    {m} register rows per window regardless of key cardinality.
    """
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if e.isStreaming:
        e = e.withWatermark("ts", "30 minutes")
    hv = hash60(F.col("user_id").cast("string"))
    w = hv.bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    rho = e.select(
        "ts",
        F.shiftright(hv, _HLL_WBITS).alias("bucket"),
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
        .alias("r"),
    )
    return (
        rho.groupBy(F.window("ts", "6 hours").alias("w"), "bucket")
        .agg(F.max("r").alias("m"))
        .select(F.col("w.start").alias("window_start"), "bucket", "m")
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Fold closed-window registers into per-window cardinality
    estimates — the integer-scaled harmonic sum of the batch sketch
    (empty buckets contribute 2^SHIFT each), one tiny aggregate over
    at most m rows per window."""
    return (
        registers.groupBy("window_start")
        .agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT} - m)"))
                + (_HLL_M - F.count(F.lit(1)))
                * F.lit(1 << _HLL_SHIFT).cast("long")
            )
            .cast("long")
            .alias("s_scaled")
        )
        .select(
            "window_start",
            "s_scaled",
            F.round(F.lit(_HLL_NUM) / F.col("s_scaled").cast("double"), 4).alias(
                "est"
            ),
        )
    )
