"""Partitioning utilities for the 100 TB story: bucketed tables for
co-located (exchange-free) joins, and key salting for skew.

Bucketing: writing both fact tables bucketed by the join key lets
Spark plan a SortMergeJoin with NO Exchange on either side — the
shuffle is paid once at write time and amortized over every
subsequent join. `tests/test_partitioning.py` asserts the
exchange-free plan.

Salting: a hot key is split into `factor` sub-keys; the small side is
exploded across all salt values so the join stays an equi-join. AQE's
skew-join handles moderate skew automatically — salting is for the
pathological keys AQE can't split (e.g. a single key larger than an
executor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) table.

    With ``path`` the table is external (location owned by the caller
    — avoids managed-location collisions across sessions that share a
    warehouse dir); otherwise managed.
    """
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def pair_expansion_partitions(
    assoc: DataFrame,
    key: str,
    rows_per_partition: int = 500_000,
    max_partitions: int = 4096,
    bound_src: DataFrame | None = None,
) -> int:
    """Self-size the shuffle for a pair-expansion self-join (basket
    co-occurrence, candidate generation): the expanded row count is
    sum-of-squares of per-key group sizes, which one cheap pre-agg
    estimates EXACTLY before the expensive join runs. AQE cannot do
    this — it only splits/coalesces a shuffle's output after the map
    side ran, but a pair expansion at too-few partitions dies in the
    join/sort itself (observed: UNABLE_TO_ACQUIRE_MEMORY at 32
    partitions on a 60M-row expansion, SCALE.md round 4) before AQE
    ever sees a reducer. This is the engine-owned replacement for the
    hand-set `shuffle_partitions=512` deployment knob.

    Returns max(session shuffle partitions, ceil(sum(k^2) /
    rows_per_partition)) clamped to ``max_partitions`` — never LOWERS
    parallelism below the session default, so small inputs keep the
    session plan unchanged. The 500k-row default matches the measured
    sweet spot from SCALE.md round 4 (512 partitions for a ~300M-row
    expansion = ~580k rows each completed; 32 partitions died).

    ``bound_src`` (round 8 — the jaccard gating recipe applied here):
    an optional CHEAPER frame whose per-``key`` squared-count sum is a
    provable upper bound on ``assoc``'s (e.g. the raw projection
    feeding a distinct + basket-cap pipeline: raw group counts >=
    capped-distinct basket sizes, so dropping the distinct exchange
    and the cap window from the sizing pass only ever OVER-estimates).
    When the bound already fits the session default's quota, the exact
    pre-agg over ``assoc`` — a full distinct + window derivation run
    only to pick a partition count — is provably unnecessary and is
    skipped; oversized inputs still fall through to the exact
    measurement, so the width is never under-sized. Sizing is purely
    physical: results are identical either way.
    """
    import math

    default = int(
        assoc.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    quota = rows_per_partition * default
    if bound_src is not None:
        brow = (
            bound_src.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__k"))
            .agg(
                F.sum(F.col("__k").cast("long") * F.col("__k")).alias("__sq")
            )
            .first()
        )
        if int(brow["__sq"] or 0) <= quota:
            return default

    row = (
        assoc.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__k"))
        .agg(
            F.sum(F.col("__k").cast("long") * F.col("__k")).alias("__sq")
        )
        .first()
    )
    sq = int(row["__sq"] or 0)
    need = math.ceil(sq / rows_per_partition) if sq else 0
    return max(default, min(max_partitions, need))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    factor: int = 8,
) -> DataFrame:
    """Skew-resistant inner equi-join: big side gets a random-ish salt derived
    from a stable hash of its row, small side is replicated across all
    salt values. Deterministic (hash-based salt, no rand())."""
    big_s = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), factor)
    )
    salt_values = F.array(*[F.lit(i) for i in range(factor)])
    small_s = small.withColumn("__salt", F.explode(salt_values))
    out = big_s.join(small_s, [key, "__salt"])
    return out.drop("__salt")
