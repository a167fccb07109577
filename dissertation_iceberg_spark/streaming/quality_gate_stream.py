"""Streaming corpus-ingest quality gate: the Gopher rule battery
applied per document as it arrives.

The production topology for training-data ingest: documents stream in
(file drops, Kafka), each gets its rule flags and a pass/fail verdict
STATELESSLY — no watermark, no state store, unbounded throughput,
because every rule is a pure per-row expression
(operators/text.gopher_flags, the SAME Column set the batch audit
query uses, so batch backfills and the live gate can never disagree).
Routing happens downstream: the pass stream feeds the corpus sink,
the fail stream feeds the quarantine/review sink — both are filters
over this one gate, preserving single-pass semantics.

At 100 TB/day this is map-only: scales with input partitions, zero
shuffle, zero state to checkpoint beyond source offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_iceberg_spark.operators.text import gopher_flags


def gopher_gate(docs: DataFrame) -> DataFrame:
    """Per-document rule flags + pass verdict. Identical code path on
    a batch frame — the test's batch twin."""
    fl = gopher_flags("text")
    out = docs.select(
        "doc_id",
        "source",
        *[c.alias(name) for name, c in fl.items()],
    )
    passing = (
        F.col("f_wc") + F.col("f_mwl") + F.col("f_sym") + F.col("f_stop")
        == 0
    )
    return out.withColumn("pass", passing)
