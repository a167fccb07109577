"""Conditional order-imbalance kernel + calendar densification.

Reference parity (SURVEY §2.4 A1-A3, §2.3 J3, §2.5 W4):
- A1 conditional OI: order_imbalance.py:242-249 applied per bin at
  :294-298 — OI = (Σ size[dir==-1] − Σ size[dir==+1]) /
  (Σ size[dir==-1] + Σ size[dir==+1])
- A2 iceberg-split OI: order_imbalance.py:381-386
- A3 first/last price per bin: order_imbalance.py:304-309 — pandas
  first/last is file-order dependent; we pin determinism with
  min_by/max_by over the event sequence column
- J3 bin densification: order_imbalance.py:301,316,338-359 — left-join
  onto the complete bin grid, OI zero-filled for empty bins
- W4 future return: order_imbalance.py:91-93 — lead(log_ret)

Scale notes: the OI aggregation is a single map-side-combinable
groupBy — conditional sums, no UDF, fully inside whole-stage codegen.
The densification grid spans the [min, max] bin via sequence()+explode —
a few thousand rows per span. The min/max is written over the
aggregated frame, but it reads only the grouping key, so Catalyst's
RemoveRedundantAggregates drops the OI aggregate under it and computes
the bounds from the event scan itself: the executed plan reads the
fact table twice, once for the OI aggregate and once for the grid
bounds (an open 100 TB item in ROADMAP.md). At 100 TB the groupBy key
would be (ticker, bin) and the grid a per-ticker sequence; no shape
change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import bin_end


def _csum(pred: Column, size_col: Column) -> Column:
    return F.sum(F.when(pred, size_col).otherwise(F.lit(0.0)))


def oi_expr(dir_col: Column, size_col: Column, extra_pred: Column | None = None) -> Column:
    """The A1 kernel as a single aggregate expression (NULL if no volume)."""
    sell_p = dir_col == -1
    buy_p = dir_col == 1
    if extra_pred is not None:
        sell_p = sell_p & extra_pred
        buy_p = buy_p & extra_pred
    sell = _csum(sell_p, size_col)
    buy = _csum(buy_p, size_col)
    return F.when((sell + buy) != 0, (sell - buy) / (sell + buy))


def binned_oi(
    df: DataFrame,
    delta_sec: int,
    ts_col: str = "ts",
    dir_col: str = "direction",
    size_col: str = "size",
    price_col: str = "value",
    seq_col: str = "event_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-bin OI + deterministic first/last price + event count."""
    d = F.col(dir_col)
    s = F.col(size_col)
    keys = [*(group_cols or []), "bin"]
    return (
        df.withColumn("bin", bin_end(ts_col, delta_sec))
        .groupBy(*keys)
        .agg(
            oi_expr(d, s).alias("order_imbalance"),
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"min_by({price_col}, {seq_col})").alias("first_price"),
            F.expr(f"max_by({price_col}, {seq_col})").alias("last_price"),
        )
    )


def densify(
    binned: DataFrame,
    delta_sec: int,
    zero_fill: tuple[str, ...] = ("order_imbalance", "n_events"),
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Left-join the binned frame onto its complete ``bin`` calendar grid.

    Missing bins get OI=0 (load-bearing reference semantics: an empty
    interval is 'balanced', not absent). Other columns stay NULL.
    With ``group_cols`` the grid spans each group's own [min, max] —
    at 100 TB that is one sequence per (ticker, day), never a global
    sort or a driver-side calendar.

    Broadcast mechanics (round-2 clarification): the grid CANNOT be the
    build side — a grid-preserving left join only admits BuildRight, so
    the hint goes on the binned aggregate, which has at most one row per
    non-empty bin and is therefore never larger than the grid.
    """
    gc = group_cols or []
    interval = F.expr(f"INTERVAL {int(delta_sec)} SECONDS")
    if gc:
        bounds = binned.groupBy(*gc).agg(
            F.min("bin").alias("lo"), F.max("bin").alias("hi")
        )
        grid = bounds.select(
            *gc, F.explode(F.sequence("lo", "hi", interval)).alias("bin")
        )
        out = grid.join(binned, on=[*gc, "bin"], how="left")
    else:
        bounds = binned.agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
        grid = bounds.select(
            F.explode(F.sequence("lo", "hi", interval)).alias("bin")
        )
        out = grid.join(F.broadcast(binned), on="bin", how="left")
    return out.withColumns(
        {
            c: F.coalesce(F.col(c), F.lit(0))
            for c in zero_fill
            if c in binned.columns
        }
    )


def with_returns(
    densified: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Within-bin log return (first_price -> last_price) + next-bin
    future return (W4 lead over ``bin``).

    The lead is partitioned by trading day (in addition to any group
    cols): the reference operates on per-day LOBSTER files, so no
    cross-day future return exists there either — and day-partitioning
    removes the last unpartitioned WindowExec from the flagship plan
    (at 100 TB an unpartitioned window funnels every bin through one
    task). A bin label is the bin END, so the label at exactly
    midnight belongs to the PREVIOUS day's data — day is derived from
    (bin - 1 microsecond)."""
    day = F.date_trunc("day", F.col("bin") - F.expr("INTERVAL 1 MICROSECOND"))
    w = Window.partitionBy(*(group_cols or []), day).orderBy("bin")
    # zero/negative prices (possible in raw feeds) must not evaluate
    # ln(): Spark ANSI and DuckDB both raise — guard, emit NULL
    first, last = F.col("first_price"), F.col("last_price")
    log_ret = F.when((first > 0) & (last > 0), F.log(last) - F.log(first))
    return densified.withColumn("log_ret", log_ret).withColumn(
        "fut_log_ret", F.lead("log_ret", 1).over(w)
    )


def oi_pipeline(df: DataFrame, delta_sec: int, **kw) -> DataFrame:
    """A1 + A3 -> J3 densify -> W4 returns; floats rounded to 6 dp for
    oracle stability. This is the flagship end-to-end slice (SURVEY §7 step 3).
    """
    group_cols = kw.pop("group_cols", None)
    b = binned_oi(df, delta_sec, group_cols=group_cols, **kw)
    dz = densify(b, delta_sec, group_cols=group_cols)
    r = with_returns(dz, group_cols=group_cols)

    def rounded(c: str) -> Column:
        return F.round(F.col(c), 6).alias(c)

    return r.select(
        *(group_cols or []),
        "bin",
        rounded("order_imbalance"),
        "n_events",
        rounded("first_price"),
        rounded("last_price"),
        rounded("log_ret"),
        rounded("fut_log_ret"),
    ).orderBy(*(group_cols or []), "bin")
