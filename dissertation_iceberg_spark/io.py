"""Table IO for the driver's testdata + generic parquet/CSV sources.

SURVEY §2.1 (S1-S6): at scale the steady state is partitioned parquet;
CSV/archive decompression is an ingest-edge job, not the engine hot path.
Column pruning and predicate pushdown are automatic once the plan is
declarative (reference's manual ``usecols=[0..3]`` disappears).

The ``events`` table needs special handling: its ``ts`` is stored
either as TIMESTAMP(MICROS), which Spark reads as ``timestamp_ntz``, or as
TIMESTAMP(NANOS), which Spark reads (under
``spark.sql.legacy.parquet.nanosAsLong``) as int64 nanoseconds. The
nanosecond form is converted with ``timestamp_micros(ts div 1000)`` —
identical to DuckDB's ns->us truncation, so oracle comparisons are
exact.

Schema reuse: :func:`load_table` infers a file's parquet schema (one
footer-reading Spark job) the first time it sees the file in this
process, keeps the ``StructType`` in :data:`_SCHEMAS` keyed on
``(path, st_mtime_ns, st_size)``, and reads with that schema from then
on, so later loads fire no job. Only metadata is kept: the rows are read
again by every query, and rewriting the file changes its key, so the
next load infers afresh. Reusing the inferred schema rather than
declaring one keeps the types identical to a plain
``spark.read.parquet`` by construction, including both ``ts`` forms.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from dissertation_iceberg_spark.session import apply_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Input contract (round 6, from the randomized-fixture parity fuzz —
# TESTDATA.md §contract): these columns must be NON-NULL. A NULL in an
# ordering / grouping / measure column makes the two engines
# legitimately diverge — Spark sorts NULLS FIRST ascending where DuckDB
# sorts NULLS LAST, Spark's min_by/max_by return the (possibly NULL)
# value at the extremal key where DuckDB's arg_min/arg_max skip NULL
# values — so parity over null-bearing measures is undefined, not
# broken. The driver's generated tables satisfy the contract at every
# SF (pinned in tests/test_io.py); foreign data should be scrubbed
# (nan_scrub / coalesce) before entering the oracle-checked surface.
NON_NULL_CONTRACT: dict[str, tuple[str, ...]] = {
    "events": ("event_id", "ts", "user_id", "event_type", "value"),
    "documents": ("doc_id", "text"),
    "embeddings": ("vec_id", "embedding"),
    "orders": ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    ),
}


def validate_contract(
    spark: SparkSession, sf_dir: str
) -> dict[str, int]:
    """Null-count per contract column that VIOLATES the non-null input
    contract; empty dict = fixture is contract-clean. One cheap
    count-aggregate per table.

    Also flags EMPTY contract tables (key ``<table>.__empty__``, value
    1): a zero-row table is out of contract — the round-7 `tiny` fuzz
    hardened the registry down to single-digit-row inputs, but a fully
    empty fact table leaves most registered statistics undefined and
    several driver-side O(k) collects without their one row, so empty
    input must be rejected at the boundary rather than half-answered."""
    bad: dict[str, int] = {}
    for table, cols in NON_NULL_CONTRACT.items():
        df = load_table(spark, sf_dir, table)
        row = df.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[
                F.count_if(F.col(c).isNull()).alias(c)
                for c in cols
                if c in df.columns
            ],
        ).first()
        d = row.asDict()
        if d.pop("__n__") == 0:
            bad[f"{table}.__empty__"] = 1
        for c, n in d.items():
            if n:
                bad[f"{table}.{c}"] = int(n)
    return bad


# (path, st_mtime_ns, st_size) -> the schema Spark inferred for it
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The file's inferred parquet schema, inferred once per file
    version in this process (see the module docstring). A path the
    local filesystem cannot stat (a cluster URI, a missing file) is
    inferred on every call, with Spark's own errors."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path).schema
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types for engine use."""
    apply_runtime_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if (
        name == "events"
        and "ts" in schema.fieldNames()
        and isinstance(schema["ts"].dataType, LongType)
    ):
        # ns int64 -> microsecond timestamp (truncating), DuckDB-identical
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def spread(df: DataFrame) -> DataFrame:
    """Decouple parallelism from input file splits.

    Small single-file parquet reads arrive as ONE partition, which
    serializes expression-heavy per-row stages (tokenization, vector
    math) on one core. One cheap round-robin repartition into the
    context's default parallelism restores cluster-wide parallelism;
    on a real multi-file table this is a near-no-op and can be dropped
    by the caller.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Steady-state layout (SURVEY §1.4): partitioned parquet with
    (ticker, date)-style directory columns so per-day queries prune at
    the file listing, and idempotent overwrite-per-partition replaces
    the reference's incremental CSV appends (S6)."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def lob_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LOB-shaped view over the driver's ``events`` table.

    The reference's message stream (SURVEY §1.1) has (time, event_type,
    size, price, direction, ticker); the driver testdata has no LOBSTER
    table, so queries map ``events`` onto it deterministically:
    - direction: +1 if event_id is even else -1 (balanced, reproducible
      in ANSI SQL for the oracle)
    - size: ``value``
    - ticker-analog: ``user_id`` (partition key for per-ticker windows)

    Mirrored by queries.sqlgen.EVENTS_LOB_SQL — keep in sync.
    """
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("direction"),
        F.col("value").alias("size"),
    )
