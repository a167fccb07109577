"""Descriptive / distribution statistics operators (SURVEY §2.4).

Reference parity:
- A6 time-of-day seasonality: EDA_initial.ipynb cell 7
- A7 daily sums: EDA_initial.ipynb cells 8,34
- A8 describe() battery: EDA_final_alltickers.py:78-110
- A11 Sharpe/PPT moment stats: single_strategy_statistics.ipynb cell 12
  — the reference uses scipy skew (g1) and kurtosis(fisher=False)
  (population moments). Spark's skewness/kurtosis are population too but
  DuckDB's are bias-corrected sample statistics, so for oracle parity we
  compute moments explicitly from power sums — the formula is then
  engine-independent.
- A12 correlation: time_series_OI.py:35-37
- A15 cumulative sums: single_strategy_statistics.ipynb cells 9-11
- P6 quantile filter: order_imbalance.py:233-237

Scale notes: every operator here is a one-pass partial+final aggregate
(power sums combine associatively). The quantile filter uses an exact
percentile for oracle parity at test scale; at 100 TB swap in
approxQuantile (same call shape, documented).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)


def moment_stats(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """n/mean/std(ddof=1)/skew(g1)/excess-kurtosis(g2)/Sharpe (252-day
    annualized) via
    TWO-PASS centered sums (round-2 advice fix): pass 1 computes each
    group's mean, pass 2 sums (x−μ)^2..4. Raw power sums suffer
    catastrophic cancellation when |mean| ≫ spread; centering matches
    the reference's scipy two-pass accuracy on any domain, not just
    near-zero-mean returns. The mean frame is O(groups) and broadcast,
    so the second pass adds no shuffle of the fact rows."""
    x = F.col(value_col)
    means = df.groupBy(*group_cols).agg(
        (F.sum(x) / F.count(x)).alias("__mu")
    )
    d = x - F.col("__mu")
    g = (
        df.join(F.broadcast(means), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(x).alias("n"),
            F.first("__mu").alias("mu"),
            F.sum(d * d).alias("cs2"),
            F.sum(d * d * d).alias("cs3"),
            F.sum(d * d * d * d).alias("cs4"),
        )
    )
    n = F.col("n").cast("double")
    mu = F.col("mu")
    m2 = F.col("cs2") / n
    m3 = F.col("cs3") / n
    m4 = F.col("cs4") / n
    # degenerate-group guards (round-7 tiny fuzz): n = 1 leaves the
    # sample std undefined and a zero-variance group leaves skew/kurt/
    # Sharpe undefined — NULL on both engines (DuckDB's division by
    # zero is NULL-valued, so the SQL twin needs no CASE)
    std = F.when(n > 1, F.sqrt(F.col("cs2") / (n - 1)))
    sharpe = F.when(std != 0, mu / std * F.lit(252.0**0.5))
    nz = F.col("cs2") != 0
    return g.select(
        *group_cols,
        F.col("n"),
        F.round(mu, 6).alias("mean_val"),
        F.round(std, 6).alias("std_val"),
        F.round(F.when(nz, m3 / F.pow(m2, 1.5)), 6).alias("skew_g1"),
        F.round(F.when(nz, m4 / (m2 * m2) - 3), 6).alias("kurt_g2"),
        F.round(sharpe, 6).alias("sharpe_ann"),
    )


def moment_stats_sql(table_sql: str, value_col: str, group_cols: list[str]) -> str:
    """DuckDB mirror of :func:`moment_stats` (identical two-pass
    centered formula path)."""
    gc = ", ".join(group_cols)
    ann = 252.0**0.5
    v = value_col
    return f"""
WITH src AS ({table_sql}),
mu AS (
  SELECT {gc}, sum({v})/count({v}) AS mu FROM src GROUP BY {gc}),
g AS (
  SELECT {", ".join("src." + c for c in group_cols)}, count(src.{v}) AS n,
         any_value(mu.mu) AS mu,
         sum((src.{v} - mu.mu)*(src.{v} - mu.mu)) AS cs2,
         sum((src.{v} - mu.mu)*(src.{v} - mu.mu)*(src.{v} - mu.mu)) AS cs3,
         sum((src.{v} - mu.mu)*(src.{v} - mu.mu)*(src.{v} - mu.mu)
             *(src.{v} - mu.mu)) AS cs4
  FROM src JOIN mu USING ({gc}) GROUP BY {", ".join("src." + c for c in group_cols)}
)
SELECT {gc}, n,
  round(mu, 6) AS mean_val,
  round(sqrt(cs2/(n-1)), 6) AS std_val,
  round((cs3/n) / pow(cs2/n, 1.5), 6) AS skew_g1,
  round((cs4/n) / pow(cs2/n, 2) - 3, 6) AS kurt_g2,
  round(mu/sqrt(cs2/(n-1)) * {ann!r}, 6) AS sharpe_ann
FROM g
"""


def quantile_filter(df: DataFrame, value_col: str) -> DataFrame:
    """Keep rows with value in [q_0.025, q_0.975] (exact percentiles).

    The 1-row quantile frame is injected as merged scalar subqueries
    (functions/scalars.py) — no driver collect and no join node, so
    the same plan works on a cluster and the filter is a map-side
    comparison against two literals.
    """
    q = df.agg(
        F.expr(f"percentile({value_col}, 0.025)").alias("__qlo"),
        F.expr(f"percentile({value_col}, 0.975)").alias("__qhi"),
    )
    return (
        df.transform(with_scalars, q)
        .filter(F.col(value_col).between(F.col("__qlo"), F.col("__qhi")))
        .drop("__qlo", "__qhi")
    )


def cumulative_sum(
    df: DataFrame,
    value_col: str,
    partition_cols: list[str],
    order_cols: list[str],
    out_col: str = "cum_sum",
) -> DataFrame:
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))
