"""Streaming Bloom dedup/decontamination gate: the streaming twin of
``queries/sketch_ops.bloom_gated_decontamination``.

At the ingest edge of a 100 TB training-data pipeline, the held-out
(benchmark/eval) set's fingerprints are folded into a Bloom filter
once, batch-side; every arriving document then passes a per-row
membership probe, and only gate HITS — a tiny fraction at a tuned FPR
— are routed to the expensive exact-fingerprint check. The Bloom
no-false-negative contract makes the routing safe: a true contaminant
can never take the fast path.

Why this formulation streams well: the filter is BOUNDED relational
state (at most ``_BLOOM_BITS`` rows — the 8 KiB bitmap as a table), so
it broadcasts; the probe is k stream-static broadcast LEFT joins, one per
hash — completely stateless (no watermark, no aggregation, append mode
works on any trigger). State never grows with the stream, unlike
``dropDuplicatesWithinWatermark`` whose state tracks arrival rate.

Batch parity is pinned in tests/test_stateful_streaming.py: the
streaming gate over a finite source equals the batch gate of the same
data row-for-row, and every exact duplicate is gated through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.hashing import seeded_hash60_col

# the batch twin's filter shape: the bit table's builder and its probe
# must agree on it
from dissertation_iceberg_spark.queries.sketch_ops import _BLOOM_BITS, _BLOOM_K


def bloom_bits(keys: DataFrame) -> DataFrame:
    """Fold a (batch) key frame into the filter's set-bit table:
    ≤ ``_BLOOM_BITS`` distinct rows no matter how many keys — the
    relational encoding of the bitmap, built once and broadcast to every probe."""
    idx = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    return (
        keys.select(F.explode(idx).alias("i"), F.col("fp").alias("__fp"))
        .select(
            (seeded_hash60_col(F.col("i"), F.col("__fp")) % _BLOOM_BITS).alias("bit")
        )
        .distinct()
    )


def bloom_gate(stream: DataFrame, bits_df: DataFrame) -> DataFrame:
    """Per-row Bloom membership probe (streaming or batch): appends a
    boolean ``gate_hit`` — True iff all k hashed bits are set, i.e. the
    row MAY be a member and must take the exact-check path; False rows
    are provably clean and skip it.

    Implementation is k stream-static broadcast left joins (one per
    hash function) instead of explode + per-row-count aggregation: a
    streaming groupBy would demand watermark state and delay emission
    to window close; the join chain is stateless and emits in the same
    micro-batch."""
    out = stream
    hit = None
    for i in range(_BLOOM_K):
        b = f"__b{i}"
        out = out.withColumn(
            b, seeded_hash60_col(F.lit(i), F.col("fp")) % _BLOOM_BITS
        ).join(
            F.broadcast(
                bits_df.select(
                    F.col("bit").alias(b), F.lit(1).alias(f"__set{i}")
                )
            ),
            b,
            "left",
        )
        term = F.col(f"__set{i}").isNotNull()
        hit = term if hit is None else hit & term
    drop = [c for i in range(_BLOOM_K) for c in (f"__b{i}", f"__set{i}")]
    return out.withColumn("gate_hit", hit).drop(*drop)
