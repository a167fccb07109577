"""Global ordered statistics WITHOUT a global sort (scale machinery).

A global ``Window.orderBy(col)`` moves every row to one partition — the
one true scale-killer flagged in round 1 (`mann_whitney_u`). The fix is
the classic two-pass ranking scheme:

1. bucket each row by a monotone function of the order column
   (``width_bucket`` over the observed min/max — boundaries only affect
   balance, never correctness, because equal values always land in the
   same bucket);
2. per-bucket totals -> exclusive prefix sums over the bucket frame
   (at most 1024 rows: a tiny single-partition window, the accepted
   O(groups) pattern);
3. within-bucket exclusive cumulative sums via a window PARTITIONED by
   bucket — fully parallel;
4. global exclusive cumsum = bucket offset + within-bucket cumsum.

Rank statistics (Mann-Whitney, Anderson-Darling ECDFs) then come from
the *distinct-value* frame: ``groupBy(value)`` first, so the ordered
frame is O(distinct values), ties are exact by construction, and no
per-row ordering is ever needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketed_exclusive_cumsums(
    df: DataFrame,
    order_col: str | Sequence[str],
    sum_cols: list[str],
    prefix: str = "cum_",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Add exclusive prefix sums of ``sum_cols`` in ``order_col`` order
    — globally, or independently per ``group_cols`` group — using
    bucketed two-pass summation (no unpartitioned window over the
    input frame).

    ``order_col`` may be a list of columns: rows are bucketed by the
    FIRST column (equal leading values always share a bucket, so the
    remaining columns only ever order rows within one bucket) and the
    within-bucket window sorts by the full tuple — the standard way to
    rank by (value, tiebreak-id) without a global sort.

    ``df`` must be UNIQUE on (group_cols, *order_cols) (group first):
    with duplicates, the within-bucket exclusive frame would split tie
    rows nondeterministically. With ``group_cols``, bucket bounds come
    from each group's own min/max, the offset window partitions by
    group over O(groups x 1024) rows, and within-bucket windows
    partition by (group, bucket) — every stage stays group-parallel.
    """
    g = list(group_cols)
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    oc = F.col(order_cols[0])
    if g:
        stats = df.groupBy(*g).agg(
            F.min(oc).alias("__vmin"), F.max(oc).alias("__vmax")
        )
        joined = df.join(F.broadcast(stats), g)
    else:
        # scalar subqueries, not a 1-row keyless broadcast join: Spark
        # merges both scalars into ONE agg subplan and injects the
        # results as literals — no join node in the main plan at all
        stats = df.agg(F.min(oc).alias("__vmin"), F.max(oc).alias("__vmax"))
        joined = df.withColumn(
            "__vmin", stats.select("__vmin").scalar()
        ).withColumn("__vmax", stats.select("__vmax").scalar())
    bucket = F.when(
        F.col("__vmax") > F.col("__vmin"),
        F.width_bucket(oc, F.col("__vmin"), F.col("__vmax"), F.lit(1024)),
    ).otherwise(F.lit(1))
    b = joined.withColumn("__bucket", bucket).drop("__vmin", "__vmax")
    totals = b.groupBy(*g, "__bucket").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    w_off = (
        (Window.partitionBy(*g) if g else Window)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ 1024 rows per group: the accepted bounded-frame window
    offsets = totals.select(
        *g,
        "__bucket",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0)).alias(f"__o_{c}")
            for c in sum_cols
        ],
    )
    w_in = (
        Window.partitionBy(*g, "__bucket")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = b.join(F.broadcast(offsets), [*g, "__bucket"])
    for c in sum_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.col(f"__o_{c}") + F.coalesce(F.sum(c).over(w_in), F.lit(0)),
        )
    return out.drop("__bucket", *[f"__o_{c}" for c in sum_cols])


def bucketed_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "rn",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Add a 1-based global row number in ``order_cols`` order without
    an unpartitioned window: rank = 1 + exclusive cumsum of ones via
    :func:`bucketed_exclusive_cumsums`. ``df`` must be unique on
    (group_cols, *order_cols); for a DESC column, pass its negation.

    This is the de-globalized replacement for
    ``row_number().over(Window.orderBy(...))`` on data-scaled frames
    (O(users) propensity ranks and kin): every window in the plan is
    partitioned by the rank bucket, so no executor ever sees more than
    ~n_rows / 1024 rows of the ordered frame.
    """
    tmp = df.withColumn("__one", F.lit(1))
    out = bucketed_exclusive_cumsums(
        tmp,
        list(order_cols),
        ["__one"],
        prefix="__rn_",
        group_cols=group_cols,
    )
    return out.withColumn(
        out_col, (F.col("__rn___one") + F.lit(1)).cast("long")
    ).drop("__one", "__rn___one")


def _idiv(a: Column, b: Column) -> Column:
    """Exact non-negative integer division as a portable expression:
    floor(a/b) on doubles is exact for integer a with |a| < 2^52
    (see queries/misc.py:708), which every rank / tile count satisfies.
    """
    return F.floor(a.cast("double") / b.cast("double")).cast("long")


def ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` reconstructed from a precomputed 1-based rank
    ``rk`` and the frame size ``n`` (typically a scalar subquery):
    with q = n div k and r = n mod k, the first r tiles hold q+1 rows
    and the rest hold q — identical arithmetic in Spark and DuckDB, so
    a bucketed rank + this expression replaces a global ``ntile``
    window with fully partitioned stages."""
    kq = _idiv(n, F.lit(k))
    r = n.cast("long") - kq * F.lit(k)
    cut = r * (kq + F.lit(1))
    return (
        F.when(rk <= cut, _idiv(rk - F.lit(1), kq + F.lit(1)) + F.lit(1))
        .otherwise(r + _idiv(rk - cut - F.lit(1), kq) + F.lit(1))
        .cast("int")
    )
