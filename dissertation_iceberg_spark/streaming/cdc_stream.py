"""Streaming CDC materialized view: latest-state-per-key upsert
semantics over a change stream (SURVEY §2.11 extension; batch twin
`cdc_latest_state` in queries/lakehouse_ops.py).

The snapshot is a keyed max_by aggregation — state is O(keys), which
IS the materialized view (a CDC snapshot cannot be smaller), updated
in place each microbatch. Tombstones ('error' events) survive in
state so a later non-delete can supersede them; consumers filter the
`is_delete` flag. At 100 TB-equivalent rates the groupBy key
partitions the state store by user; counts and max_by are map-side
combinable so the shuffle moves one candidate row per (batch, key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.exact import round_long


def streaming_cdc_latest(events: DataFrame) -> DataFrame:
    """readStream change log -> one row per key: the latest event
    (ties broken by event_id, matching the batch twin), its
    microsecond timestamp, integer-cent value, and delete flag.
    Works identically on batch frames — the parity pin."""
    df = events.withColumn("__ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("__ts", "1 hour")
    ordkey = F.struct(
        F.unix_micros(F.col("__ts")).alias("us"),
        F.col("event_id").alias("event_id"),
    )
    row = F.struct(
        F.col("event_id").alias("last_event_id"),
        F.unix_micros(F.col("__ts")).alias("last_us"),
        round_long(F.col("value") * 100).alias("last_cents"),
        (F.col("event_type") == "error").alias("is_delete"),
    )
    return (
        df.groupBy("user_id")
        .agg(F.max_by(row, ordkey).alias("r"))
        .select(
            "user_id",
            F.col("r.last_event_id").alias("last_event_id"),
            F.col("r.last_us").alias("last_us"),
            F.col("r.last_cents").alias("last_cents"),
            F.col("r.is_delete").cast("long").alias("is_delete"),
        )
    )
