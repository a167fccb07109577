"""Trading-strategy operators (SURVEY §2.5 W7-W8, §2.4 A9-A10, §2.6 O3).

Reference parity:
- W7 cross-sectional signal rank: trading_strategy.py:398-404 —
  pandas ``rank(method='first', ascending=False)`` ⇒ ``row_number``
  (NOT ``rank``: ties broken by order, so we pin a deterministic
  tiebreak column).
- top/bottom selection: top = rank <= floor(p*N) & signal>0,
  bottom = rank > N - floor(p*N) & signal<0 (trading_strategy.py:401-404)
- A9/A10 PnL + signal counts: trading_strategy.py:408-435
- O3 top-k: ClOp_analysis.ipynb cell 9

Scale: rank is one shuffle on the bin key; the per-bin cross-section
(number of tickers) is small, so partitions are balanced by design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cross_sectional_select(
    df: DataFrame,
    bin_col: str,
    signal_col: str,
    tiebreak_col: str,
    percentile: float = 0.2,
) -> DataFrame:
    """Flag top/bottom percentile of the signal cross-section per bin."""
    w = Window.partitionBy(bin_col).orderBy(
        F.desc(signal_col), F.asc(tiebreak_col)
    )
    wp = Window.partitionBy(bin_col)
    k = F.floor(F.count(F.lit(1)).over(wp) * F.lit(percentile))
    n = F.count(F.lit(1)).over(wp)
    rn = F.row_number().over(w)
    return (
        df.withColumn("rnk", rn)
        .withColumn(
            "is_top", ((rn <= k) & (F.col(signal_col) > 0)).cast("int")
        )
        .withColumn(
            "is_bottom", ((rn > n - k) & (F.col(signal_col) < 0)).cast("int")
        )
    )


def leg_pnl(ret_col: str) -> Column:
    """The long-short aggregate over a selected frame: Σ returns over
    top picks − Σ returns over bottom picks, unrounded
    (trading_strategy.py:421-435)."""
    return F.sum(F.when(F.col("is_top") == 1, F.col(ret_col)).otherwise(0.0)) - F.sum(
        F.when(F.col("is_bottom") == 1, F.col(ret_col)).otherwise(0.0)
    )


def portfolio_pnl(
    selected: DataFrame,
    bin_col: str,
    ret_col: str,
) -> DataFrame:
    """Per-bin PnL (:func:`leg_pnl`, rounded to 6 dp) plus leg counts."""
    return selected.groupBy(bin_col).agg(
        F.round(leg_pnl(ret_col), 6).alias("pnl"),
        F.sum("is_top").alias("n_top"),
        F.sum("is_bottom").alias("n_bottom"),
    )


def top_k(
    df: DataFrame, order_col: str, tiebreak_col: str, k: int = 5
) -> DataFrame:
    """Deterministic top-k via ``orderBy(...).limit(k)``, which compiles
    to TakeOrderedAndProject: per-partition top-k + driver merge of k×P
    rows — no single-partition window, survives any input size (round-2
    fix; the old global row_number window moved every row to one
    partition).
    """
    return df.orderBy(F.desc(order_col), F.asc(tiebreak_col)).limit(k)
