"""Strategy evaluation queries (SURVEY A11 applied end-to-end, the
iceberg_quantile percentile sweep, and time_series_OI cross-correlation).

Moment statistics over the PnL series use TWO-PASS central sums (mean
broadcast back, then Σ(x−μ)^k): at PnL magnitudes the raw-power-sum
form loses ~3 digits to cancellation, which is outside the 6-dp
rounding budget; the central form is engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.strategy import (
    _SIGNAL_SQL,
    _daily_pnl,
    _signals,
)
from dissertation_iceberg_spark.operators.strategy import (
    cross_sectional_select,
    leg_pnl,
)

_SEL_SQL = """
SELECT *,
  CASE WHEN row_number() OVER w <= floor(count(*) OVER (PARTITION BY day) * {p})
        AND signal > 0 THEN 1 ELSE 0 END AS is_top,
  CASE WHEN row_number() OVER w > count(*) OVER (PARTITION BY day)
               - floor(count(*) OVER (PARTITION BY day) * {p})
        AND signal < 0 THEN 1 ELSE 0 END AS is_bottom
FROM sig
WINDOW w AS (PARTITION BY day ORDER BY signal DESC, user_id ASC)
"""

_PNL_SERIES_SQL = f"""
WITH sig AS ({_SIGNAL_SQL}),
sel AS ({_SEL_SQL.format(p=0.2)})
SELECT day,
  sum(CASE WHEN is_top = 1 THEN gross ELSE 0 END)
    - sum(CASE WHEN is_bottom = 1 THEN gross ELSE 0 END) AS pnl,
  sum(is_top + is_bottom) AS n_trades
FROM sel GROUP BY day
"""

_STATS_ORACLE = f"""
WITH p AS ({_PNL_SERIES_SQL}),
m AS (SELECT count(*) AS n, avg(pnl) AS mu, sum(pnl) AS total,
             sum(n_trades) AS trades FROM p),
c AS (
  SELECT m.n, m.mu, m.total, m.trades,
         sum((p.pnl - m.mu) * (p.pnl - m.mu)) AS c2,
         sum(pow(p.pnl - m.mu, 3)) AS c3,
         sum(pow(p.pnl - m.mu, 4)) AS c4
  FROM p, m GROUP BY m.n, m.mu, m.total, m.trades)
SELECT CAST(n AS BIGINT) AS n_days,
  round(total, 6) AS total_pnl,
  round(mu, 6) AS mean_pnl,
  round(sqrt(c2 / (n - 1)), 6) AS std_pnl,
  round((c3 / n) / pow(c2 / n, 1.5), 6) AS skew_g1,
  round((c4 / n) / pow(c2 / n, 2) - 3, 6) AS kurt_g2,
  round(mu / sqrt(c2 / (n - 1)) * sqrt(252), 6) AS sharpe_ann,
  round(CASE WHEN trades > 0 THEN total / trades * 10000 END, 6) AS ppt_bps
FROM c WHERE n > 1 AND c2 > 0
"""


@register("portfolio_statistics", oracle=_STATS_ORACLE)
def portfolio_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 end-to-end: daily portfolio PnL series -> mean/std/skew/
    kurtosis(non-Fisher −3)/annualized Sharpe/PPT(×10⁴) with two-pass
    central moments (single_strategy_statistics.ipynb cell 12,
    portfolio_strategy_statistics.ipynb cell 6)."""
    p = _daily_pnl(spark, sf_dir)
    m = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("pnl").alias("mu"),
        F.sum("pnl").alias("total"),
        F.sum("n_trades").alias("trades"),
    )
    c = (
        p.transform(with_scalars, m)
        .groupBy("n", "mu", "total", "trades")
        .agg(
            F.sum((F.col("pnl") - F.col("mu")) * (F.col("pnl") - F.col("mu"))).alias(
                "c2"
            ),
            F.sum(F.pow(F.col("pnl") - F.col("mu"), 3)).alias("c3"),
            F.sum(F.pow(F.col("pnl") - F.col("mu"), 4)).alias("c4"),
        )
    )
    n, mu = F.col("n"), F.col("mu")
    # degenerate-series guard (round-7 one_ticker fuzz): one day or a
    # zero-variance PnL series has no moment statistics — zero rows on
    # both engines; zero trades NULLs ppt_bps
    return c.filter((n > 1) & (F.col("c2") > 0)).select(
        n.cast("long").alias("n_days"),
        F.round(F.col("total"), 6).alias("total_pnl"),
        F.round(mu, 6).alias("mean_pnl"),
        F.round(F.sqrt(F.col("c2") / (n - 1)), 6).alias("std_pnl"),
        F.round((F.col("c3") / n) / F.pow(F.col("c2") / n, 1.5), 6).alias("skew_g1"),
        F.round((F.col("c4") / n) / F.pow(F.col("c2") / n, 2) - 3, 6).alias("kurt_g2"),
        F.round(mu / F.sqrt(F.col("c2") / (n - 1)) * F.sqrt(F.lit(252.0)), 6).alias(
            "sharpe_ann"
        ),
        F.round(
            F.when(F.col("trades") > 0, F.col("total") / F.col("trades") * 10000),
            6,
        ).alias("ppt_bps"),
    )


# --------------------------------------------------------------------------
# Modified-Sharpe significance test (single_strategy_statistics.ipynb
# cells 11-13): SR adjusted for skew/kurtosis (Mertens 2002 variance of
# the SR estimator), z-stat and two-tailed normal p-value.
# --------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26-style tail polynomial for the normal CDF
# (|error| < 7.5e-8, far inside the 6-dp output rounding). The SAME
# literal expression runs in both engines, so parity does not depend on
# the approximation's accuracy — only on identical IEEE evaluation.
_NCDF_T = 0.2316419
_NCDF_A = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_SQRT_2PI = 2.5066282746310002

_SHARPE_TEST_ORACLE = f"""
WITH p AS ({_PNL_SERIES_SQL}),
m AS (SELECT count(*) AS n, avg(pnl) AS mu FROM p),
c AS (
  SELECT m.n, m.mu,
         sum((p.pnl - m.mu) * (p.pnl - m.mu)) AS c2,
         sum(pow(p.pnl - m.mu, 3)) AS c3,
         sum(pow(p.pnl - m.mu, 4)) AS c4
  FROM p, m GROUP BY m.n, m.mu),
s AS (
  SELECT n,
         mu / sqrt(c2 / (n - 1)) AS sr,
         (c3 / n) / pow(c2 / n, 1.5) AS g3,
         (c4 / n) / pow(c2 / n, 2) AS g4
  FROM c WHERE n > 1 AND c2 > 0),
z AS (
  SELECT n, sr, g3, g4,
         CASE WHEN (1 - g3 * sr + (g4 - 1) * (sr * sr) / 4) > 0
              THEN sr / sqrt((1 - g3 * sr + (g4 - 1) * (sr * sr) / 4)
                             / (n - 1)) END AS stat
  FROM s),
t AS (SELECT n, sr, stat, 1 / (1 + {_NCDF_T} * abs(stat)) AS u FROM z)
SELECT CAST(n AS BIGINT) AS n_days,
  round(sr * sqrt(252), 6) AS sharpe_ann,
  round(stat, 6) AS sr_stat,
  round(2 * (exp(-(abs(stat) * abs(stat)) / 2) / {_SQRT_2PI})
          * (u * ({_NCDF_A[0]} + u * ({_NCDF_A[1]} + u * ({_NCDF_A[2]}
             + u * ({_NCDF_A[3]} + u * {_NCDF_A[4]}))))), 6) AS p_value
FROM t
"""


@register("sharpe_test", oracle=_SHARPE_TEST_ORACLE)
def sharpe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-Sharpe significance test
    (single_strategy_statistics.ipynb cell 11 `sharpe_test`): per-period
    SR = mu/std(ddof=1), population skew g3 and non-Fisher kurtosis g4,
    z-stat = SR / sqrt((1 - g3*SR + (g4-1)*SR^2/4)/(T-1)), two-tailed
    normal p-value, annualized SR = sqrt(252)*SR. The p-value uses
    2*(1-Phi(|z|)) = 2*phi(|z|)*poly(t) — the tail form avoids the
    1-Phi cancellation entirely.

    Scale shape: identical to portfolio_statistics — daily PnL series
    (one groupBy), 1-row moments frame broadcast back for two-pass
    central sums, then pure scalar arithmetic on a single row."""
    p = _daily_pnl(spark, sf_dir)
    m = p.agg(F.count(F.lit(1)).alias("n"), F.avg("pnl").alias("mu"))
    c = (
        p.transform(with_scalars, m)
        .groupBy("n", "mu")
        .agg(
            F.sum((F.col("pnl") - F.col("mu")) * (F.col("pnl") - F.col("mu"))).alias(
                "c2"
            ),
            F.sum(F.pow(F.col("pnl") - F.col("mu"), 3)).alias("c3"),
            F.sum(F.pow(F.col("pnl") - F.col("mu"), 4)).alias("c4"),
        )
    )
    n = F.col("n")
    # degenerate-series guard (round-7 one_ticker fuzz): zero rows for
    # n <= 1 / zero variance; a negative Mertens variance NULLs the
    # statistic instead of sqrt of a negative
    s = c.filter((n > 1) & (F.col("c2") > 0)).select(
        n,
        (F.col("mu") / F.sqrt(F.col("c2") / (n - 1))).alias("sr"),
        ((F.col("c3") / n) / F.pow(F.col("c2") / n, 1.5)).alias("g3"),
        ((F.col("c4") / n) / F.pow(F.col("c2") / n, 2)).alias("g4"),
    )
    sr, g3, g4 = F.col("sr"), F.col("g3"), F.col("g4")
    mert = F.lit(1.0) - g3 * sr + (g4 - 1) * (sr * sr) / 4
    z = s.select(
        n,
        sr,
        F.when(mert > 0, sr / F.sqrt(mert / (n - 1))).alias("stat"),
    )
    stat = F.col("stat")
    u = 1 / (1 + _NCDF_T * F.abs(stat))
    a0, a1, a2, a3, a4 = _NCDF_A
    tail = (
        2
        * (F.exp(-(F.abs(stat) * F.abs(stat)) / 2) / _SQRT_2PI)
        * (u * (a0 + u * (a1 + u * (a2 + u * (a3 + u * a4)))))
    )
    return z.select(
        n.cast("long").alias("n_days"),
        F.round(sr * F.sqrt(F.lit(252.0)), 6).alias("sharpe_ann"),
        F.round(stat, 6).alias("sr_stat"),
        F.round(tail, 6).alias("p_value"),
    )


# --------------------------------------------------------------------------
# Percentile sweep (iceberg_quantile.ipynb cell 3: p ∈ 0.05…0.4)
# --------------------------------------------------------------------------

_SWEEP_PS = (0.1, 0.2, 0.4)

_SWEEP_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT CAST({p} AS DOUBLE) AS percentile, CAST(count(*) AS BIGINT) AS n_days,
       round(sum(pnl), 6) AS total_pnl,
       round(avg(pnl), 6) AS avg_daily_pnl
FROM (
  WITH sig AS ({_SIGNAL_SQL}),
  sel AS ({_SEL_SQL.format(p=p)})
  SELECT day,
    sum(CASE WHEN is_top = 1 THEN gross ELSE 0 END)
      - sum(CASE WHEN is_bottom = 1 THEN gross ELSE 0 END) AS pnl
  FROM sel GROUP BY day)
"""
    for p in _SWEEP_PS
)


@register("percentile_sweep_pnl", oracle=_SWEEP_ORACLE)
def percentile_sweep_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile sweep of the long-short selection width — one frame
    with a percentile column replaces the reference's per-p reruns."""
    parts = []
    for p in _SWEEP_PS:
        sel = cross_sectional_select(
            _signals(spark, sf_dir), "day", "signal", "user_id", p
        )
        pnl = sel.groupBy("day").agg(leg_pnl("gross").alias("pnl"))
        parts.append(
            pnl.agg(
                F.count(F.lit(1)).cast("long").alias("n_days"),
                F.round(F.sum("pnl"), 6).alias("total_pnl"),
                F.round(F.avg("pnl"), 6).alias("avg_daily_pnl"),
            ).select(F.lit(p).alias("percentile"), "n_days", "total_pnl", "avg_daily_pnl")
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


# --------------------------------------------------------------------------
# OI cross-correlation across variants/deltas (time_series_OI.py:35-37)
# --------------------------------------------------------------------------

from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.functions.exact import CENTS_SQL, lob_cents
from dissertation_iceberg_spark.queries.sqlgen import EVENTS_LOB_SQL

_XC_DELTAS = (3600, 21600)


def _xc_oracle() -> str:
    parts = []
    for d in _XC_DELTAS:
        oi = lambda pred: (  # noqa: E731
            f"CASE WHEN (sum(CASE WHEN direction=-1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)"
            f" + sum(CASE WHEN direction=1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)) <> 0 "
            f"THEN CAST(sum(CASE WHEN direction=-1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)"
            f" - sum(CASE WHEN direction=1 AND {pred} THEN {CENTS_SQL} ELSE 0 END) AS DOUBLE)"
            f" / (sum(CASE WHEN direction=-1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)"
            f" + sum(CASE WHEN direction=1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)) END"
        )
        parts.append(
            f"""
SELECT CAST({d} AS BIGINT) AS delta_sec, round(corr(oi_vis, oi_hid), 6) AS xcorr
FROM (
  SELECT {bin_end_sql("ts", d)} AS bin,
         {oi("event_type = 'purchase'")} AS oi_vis,
         {oi("event_type = 'error'")} AS oi_hid
  FROM ({EVENTS_LOB_SQL}) lob GROUP BY 1)
WHERE oi_vis IS NOT NULL AND oi_hid IS NOT NULL
"""
        )
    return "\nUNION ALL\n".join(parts)


@register("oi_cross_correlation", oracle=_xc_oracle())
def oi_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/time_series_OI: correlation between visible and hidden OI
    series per delta — one frame across deltas."""
    lob = lob_cents(spark, sf_dir)
    from dissertation_iceberg_spark.queries.oi_variants import _oi_cents

    d_, c_ = F.col("direction"), F.col("cents")
    parts = []
    for delta in _XC_DELTAS:
        b = (
            lob.withColumn("bin", bin_end("ts", delta))
            .groupBy("bin")
            .agg(
                _oi_cents(d_, c_, F.col("event_type") == "purchase").alias("oi_vis"),
                _oi_cents(d_, c_, F.col("event_type") == "error").alias("oi_hid"),
            )
            .filter(F.col("oi_vis").isNotNull() & F.col("oi_hid").isNotNull())
        )
        parts.append(
            b.agg(F.round(F.corr("oi_vis", "oi_hid"), 6).alias("xcorr")).select(
                F.lit(delta).cast("long").alias("delta_sec"), "xcorr"
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out
