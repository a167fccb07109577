"""Closed-form regression kernels (SURVEY §2.10 A18-A20).

Reference parity: chunk_pipeline.py:201-243 accumulates RSS/TSS and the
Gram matrix over 100-row chunks — the manual analogue of Spark's
partial+final aggregation; ClOp_calc.py:25-57 fits the daily
single-regressor OLS. Both are expressed here as ONE aggregation pass
over sufficient statistics, then closed-form arithmetic.

- :func:`moment_sums` is the bivariate kernel: the six aggregates
  ``n, sx, sy, sxx, sxy, syy`` of two columns. The registry's
  single-regressor slopes, correlations and R² read their sums from
  it, through one of the two derived forms — :func:`scaled_comoment`
  (n·Σab − Σa·Σb) and :func:`centred_comoment` (Σab − Σa·Σb/n), both
  in double. The kernel always emits all six sums: Catalyst prunes
  the aggregates a caller never reads (and the no-op ``long`` cast of a
  BIGINT sum), so a fit that reads four sums runs four.
- :func:`simple_ols` is the single-feature fit fully inside Spark SQL
  (slope, intercept, R², slope t-stat).
- :func:`ols_fit` is the k-feature fit: one aggregation producing
  n, X'X, X'y, y'y, Σy, then the k×k normal equations (k ≤ 10)
  solved driver-side: β = (X'X)⁻¹X'y, σ² = RSS/(n−k),
  se = sqrt(diag(σ²(X'X)⁻¹)), t = β/se,
  adj-R² = 1 − (RSS/(n−k))/(TSS/(n−1)). This replaces the reference's
  SGD path (chunk_pipeline.py:267-345) with the exact OLS the
  reference itself uses for daily data (ClOp_calc.py:38-57) — SURVEY
  §4's recommended decision.

Scale: every aggregation is map-side combinable (sums of products);
the driver-side solve touches a k×k matrix only. Per-group batteries
(A22) reuse the same kernels with groupBy keys.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def moment_sums(x: Column, y: Column) -> list[Column]:
    """The bivariate sufficient statistics of ``x`` and ``y`` as six
    aggregates named ``n, sx, sy, sxx, sxy, syy`` (count and sums; the
    sum types follow the inputs — BIGINT for integer columns, double
    for double ones). Spread into an ``agg`` beside any extra sums."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    ]


def _d(name: str) -> Column:
    return F.col(name).cast("double")


def scaled_comoment(n: str, sab: str, sa: str, sb: str) -> Column:
    """n·Σab − Σa·Σb in double, over the named count and sum columns."""
    return _d(n) * _d(sab) - _d(sa) * _d(sb)


def centred_comoment(n: str, sab: str, sa: str, sb: str) -> Column:
    """Σab − Σa·Σb/n in double, over the named count and sum columns."""
    return _d(sab) - _d(sa) * _d(sb) / _d(n)


def _xtx_aggs(feature_cols: list[str], y_col: str):
    """Aggregate expressions for the upper triangle of [X;1]'[X;1], X'y."""
    cols = [*feature_cols, None]  # None = intercept (constant 1)
    aggs = []

    def c(name):
        return F.lit(1.0) if name is None else F.col(name).cast("double")

    for i, a in enumerate(cols):
        for b in cols[i:]:
            an = a or "const"
            bn = b or "const"
            aggs.append(F.sum(c(a) * c(b)).alias(f"xx_{an}__{bn}"))
        aggs.append(F.sum(c(a) * F.col(y_col).cast("double")).alias(f"xy_{a or 'const'}"))
    # y cast to double like every X sum: an integer/decimal y would
    # otherwise sum in long/decimal space (overflow + drift vs the
    # float64 driver-side solve)
    y = F.col(y_col).cast("double")
    aggs.append(F.sum(y * y).alias("yy"))
    aggs.append(F.sum(y).alias("sy"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    return aggs


def ols_fit(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    group_cols: list[str] | None = None,
) -> list[dict]:
    """Exact OLS per group. Returns one dict per group with keys:
    group values, beta (incl. 'const'), tvals, adj_r2, n.

    Distributed work: one aggregation. Driver work: k×k solve per group.
    """
    import numpy as np

    group_cols = group_cols or []
    aggs = _xtx_aggs(feature_cols, y_col)
    g = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
    rows = g.collect()  # tiny: one row per group
    names = [*feature_cols, "const"]
    k = len(names)
    out = []
    for r in rows:
        xtx = np.zeros((k, k))
        xty = np.zeros(k)
        for i, a in enumerate(names):
            for j in range(i, k):
                b = names[j]
                v = r[f"xx_{a}__{b}"]
                xtx[i, j] = xtx[j, i] = v
            xty[i] = r[f"xy_{a}"]
        n = r["n"]
        beta = np.linalg.solve(xtx, xty)
        rss = float(r["yy"] - 2 * beta @ xty + beta @ xtx @ beta)
        tss = float(r["yy"] - r["sy"] ** 2 / n)
        dof = n - k
        sigma2 = rss / dof
        cov = sigma2 * np.linalg.inv(xtx)
        se = np.sqrt(np.diag(cov))
        tvals = beta / se
        adj_r2 = 1.0 - (rss / dof) / (tss / (n - 1))
        out.append(
            {
                **{c: r[c] for c in group_cols},
                "n": n,
                "beta": dict(zip(names, beta.tolist())),
                "tvals": dict(zip(names, tvals.tolist())),
                "adj_r2": adj_r2,
                "rss": rss,
                "tss": tss,
            }
        )
    return out


FF_FACTORS = ("smb", "hml", "rf", "cma", "rmw")


def regression_spec(
    order_type: str = "combined",
    ret_type: str = "excess",
    predictive: bool = True,
    momentum: bool = False,
) -> tuple[list[str], str]:
    """A19 (chunk_pipeline.py:246-305): map a spec tuple to the X column
    list and y column. X always appends the FF factor columns; the OI
    columns depend on the order-type variant."""
    oi_cols = {
        "vis": ["order_imbalance"],
        "hid": ["order_imbalance_hid"],
        "combined": ["order_imbalance_vis", "order_imbalance_hid"],
        "iceberg": ["order_imbalance_vis", "order_imbalance_ib",
                     "order_imbalance_hid"],
    }[order_type]
    x = [*oi_cols, *(["momentum"] if momentum else []), *FF_FACTORS]
    y = {
        ("log", True): "fut_log_ret",
        ("log", False): "log_ret",
        ("excess", True): "fut_log_ret_ex",
        ("excess", False): "log_ret_ex",
    }[(ret_type, predictive)]
    return x, y


def simple_ols(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str]
) -> DataFrame:
    """Single-feature OLS fully inside Spark SQL (closed form) — slope,
    intercept, R², slope t-stat. Oracle-matched with the identical
    formula in DuckDB (see queries.regression)."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    g = df.groupBy(*group_cols).agg(*moment_sums(x, y))
    n = F.col("n").cast("double")
    ssx = centred_comoment("n", "sxx", "sx", "sx")
    ssy = centred_comoment("n", "syy", "sy", "sy")
    sxy_c = centred_comoment("n", "sxy", "sx", "sy")
    slope = sxy_c / ssx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = sxy_c * sxy_c / (ssx * ssy)
    rss = ssy - slope * sxy_c
    # degenerate-group guard (round-7 one_ticker fuzz): a constant
    # regressor (ssx = 0, e.g. a single-name stream regressed on
    # user_id), constant response (ssy = 0), or n <= 2 leaves the fit
    # undefined — such groups emit ZERO rows on both engines (the
    # mann_whitney_u convention); a perfect fit (rss <= 0) NULLs the
    # t-stat instead of dividing by zero
    tstat = F.when(rss > 0, slope / F.sqrt(rss / (n - 2) / ssx))
    return g.filter((F.col("n") > 2) & (ssx != 0) & (ssy != 0)).select(
        *group_cols,
        F.col("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.round(tstat, 6).alias("t_slope"),
    )


def simple_ols_sql(table_sql: str, x_col: str, y_col: str, group_cols: list[str]) -> str:
    gc = ", ".join(group_cols)
    return f"""
WITH g AS (
  SELECT {gc}, count(*) AS n,
         sum(CAST({x_col} AS DOUBLE)) AS sx, sum(CAST({y_col} AS DOUBLE)) AS sy,
         sum(CAST({x_col} AS DOUBLE)*CAST({y_col} AS DOUBLE)) AS sxy,
         sum(CAST({x_col} AS DOUBLE)*CAST({x_col} AS DOUBLE)) AS sxx,
         sum(CAST({y_col} AS DOUBLE)*CAST({y_col} AS DOUBLE)) AS syy
  FROM ({table_sql}) GROUP BY {gc}
)
SELECT {gc}, n,
  round((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS slope,
  round((sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n, 6) AS intercept,
  round((sxy - sx*sy/n)*(sxy - sx*sy/n) / ((sxx - sx*sx/n)*(syy - sy*sy/n)), 6) AS r2,
  round(CASE WHEN ((syy - sy*sy/n)
                   - ((sxy - sx*sy/n) / (sxx - sx*sx/n))*(sxy - sx*sy/n)) > 0
        THEN ((sxy - sx*sy/n) / (sxx - sx*sx/n))
        / sqrt(((syy - sy*sy/n) - ((sxy - sx*sy/n) / (sxx - sx*sx/n))*(sxy - sx*sy/n))
               / (n - 2) / (sxx - sx*sx/n)) END, 6) AS t_slope
FROM g
WHERE n > 2 AND (sxx - sx*sx/n) <> 0 AND (syy - sy*sy/n) <> 0
"""
