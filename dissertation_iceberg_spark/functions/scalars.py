"""Scalar-subquery injection — the round-4 replacement for keyless
1-row broadcast joins (VERDICT r3 item 6).

``df.crossJoin(F.broadcast(one_row_stats))`` plans as a
BroadcastNestedLoopJoin: harmless for one build row, but it is a join
node the red-flag sweep cannot distinguish from an accidental
cartesian, so every site needed an allowlist entry. Spark 4's
``DataFrame.scalar()`` turns each stats column into an uncorrelated
scalar subquery instead: the optimizer MERGES all scalars drawn from
the same aggregate into ONE subplan (MergeScalarSubqueries), runs it
once, and injects the results as literals into whole-stage codegen —
no join operator in the main plan at all. Same single execution of the
stats aggregate, cleaner plan, and the BNLJ allowlist shrinks to the
documented brute-force baselines.

CAVEAT (semantics): a scalar subquery over an EMPTY frame injects
NULL, while crossJoin with an empty frame returns zero rows. Every
call site must pass a frame that provably yields exactly one row — a
global aggregate. Don't use these helpers on ``filter(...).limit(1)``
frames that can be empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_scalars(df: DataFrame, stats: DataFrame) -> DataFrame:
    """Drop-in replacement for ``df.crossJoin(F.broadcast(stats))``
    when ``stats`` is a 1-row global aggregate: appends each stats
    column as a scalar subquery under the same name. Downstream code
    that referenced the crossJoined columns is unchanged."""
    return df.select(
        "*", *[stats.select(c).scalar().alias(c) for c in stats.columns]
    )


def bcast_params(df: DataFrame, stats: DataFrame) -> DataFrame:
    """The ITERATIVE-CHAIN form: keyless crossJoin of a 1-row
    parameter frame, kept deliberately as a broadcast join.

    Round-4 measurement: converting per-iteration parameter frames
    (gbm_stumps' residual/best-split chain, kcore's peel loop,
    learning_curve's per-subset refits, ...) to scalar subqueries blew
    their sf0.001 parity times from seconds to minutes — each nested
    scalar re-derives the whole previous-iteration lineage, while the
    broadcast-exchange form gets Catalyst's ReuseExchange across
    iterations. So: ONE-SHOT stats -> :func:`with_scalars` (no join
    node); CHAINED per-iteration stats -> this helper, and the query
    carries an INTENTIONAL_BNLJ attribution naming it."""
    return df.crossJoin(F.broadcast(stats))


def explode_grid(df: DataFrame, grid: DataFrame) -> DataFrame:
    """Drop-in replacement for ``df.crossJoin(F.broadcast(grid))`` for
    a SMALL data-derived grid (quantile targets, lag grids, coalition
    lattices): the grid is collapsed to ONE array-of-struct scalar
    subquery and fanned out map-side with ``explode`` — no join node,
    no broadcast exchange, and the fan-out factor is visible in the
    plan as a generator. Row order within the grid is not preserved
    (crossJoin never guaranteed one either)."""
    cols = grid.columns
    arr = grid.agg(
        F.collect_list(F.struct(*cols)).alias("__grid")
    ).scalar()
    out = df.withColumn("__g", F.explode(arr))
    for c in cols:
        out = out.withColumn(c, F.col("__g")[c])
    return out.drop("__g")
