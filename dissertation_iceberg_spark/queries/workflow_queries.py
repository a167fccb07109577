"""E1/E3 end-to-end workflow compositions on the oracle surface.

The round-3 verdict asked for the FULL reference pipelines — not just
their stages — to be driver-verified (item 7). plans/workflows.py holds
the compositions (pytest-pinned invariants); this module registers:

- ``regression_workflow_coefs`` (E1, chunk_pipeline.py:353-412): the
  per-delta OI-regression coefficient table. The OI frame is the same
  plans.workflows.oi_frame composition (as-of iceberg tag -> vis/ib/hid
  split OI -> densify -> day-partitioned future return); the 3-feature
  + intercept OLS is solved CLOSED-FORM from exact micro-quantized Gram
  sums via programmatically generated 4x4 Cramer expansions — the SAME
  expression strings feed Spark's F.expr and the DuckDB oracle, so
  every double is computed with an identical op shape and order
  (bit-identical; only ln() outputs are micro-rounded to the 1e-6 grid
  first, the repo's standard libm guard).

- ``portfolio_workflow_pnl`` (E3, trading_strategy.py:347-464): the
  rolling-refit signal -> next-day gross join -> cross-sectional
  top/bottom 20% selection -> daily long-short PnL, calling
  plans.workflows.portfolio_strategy_workflow verbatim.

Scale notes: the Gram sums are map-side-combinable integer aggregates
over the O(bins) frame (x-micro <= 1e6, so products fit int64 up to
~1e6 bins; a 100 TB deployment widens the sums to decimal(38,0) like
kmeans_cluster_stats' sum_num). The solve is O(1) per delta. E3 is the
composition of three already-green plans (rolling_refit_signal,
cross_sectional_rank, portfolio_daily_pnl) — one shuffle per stage,
day-partitioned windows only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.exact import det3, det4, round_long
from dissertation_iceberg_spark.queries.core import ICEBERG_TOL_US
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.queries.sqlgen import EVENTS_LOB_SQL
from dissertation_iceberg_spark.functions.time_bins import bin_end_sql

E1_DELTAS = (3600, 21600)

# ---------------------------------------------------------------------------
# 4x4 symmetric Cramer solve, generated once as SQL strings shared by
# both engines (identical op shape => identical doubles)
# ---------------------------------------------------------------------------


_M = [
    ["a11", "a12", "a13", "a14"],
    ["a12", "a22", "a23", "a24"],
    ["a13", "a23", "a33", "a34"],
    ["a14", "a24", "a34", "nn"],
]
_V = ["v1", "v2", "v3", "v4"]


def _replace_col(j: int) -> list[list[str]]:
    return [[_V[r] if c == j else _M[r][c] for c in range(4)] for r in range(4)]


# exact integer micro-sums scaled to doubles identically on both sides
_E1_STATS = {
    "a11": "CAST(sum(x1m*x1m) AS DOUBLE) / 1e12",
    "a12": "CAST(sum(x1m*x2m) AS DOUBLE) / 1e12",
    "a13": "CAST(sum(x1m*x3m) AS DOUBLE) / 1e12",
    "a22": "CAST(sum(x2m*x2m) AS DOUBLE) / 1e12",
    "a23": "CAST(sum(x2m*x3m) AS DOUBLE) / 1e12",
    "a33": "CAST(sum(x3m*x3m) AS DOUBLE) / 1e12",
    "a14": "CAST(sum(x1m) AS DOUBLE) / 1e6",
    "a24": "CAST(sum(x2m) AS DOUBLE) / 1e6",
    "a34": "CAST(sum(x3m) AS DOUBLE) / 1e6",
    "nn": "CAST(count(*) AS DOUBLE)",
    "v1": "CAST(sum(x1m*ym) AS DOUBLE) / 1e12",
    "v2": "CAST(sum(x2m*ym) AS DOUBLE) / 1e12",
    "v3": "CAST(sum(x3m*ym) AS DOUBLE) / 1e12",
    "v4": "CAST(sum(ym) AS DOUBLE) / 1e6",
    "syy": "CAST(sum(ym*ym) AS DOUBLE) / 1e12",
}
_E1_DET = {"det": det4(_M)}
_E1_SOLVE = {
    "b1": f"{det4(_replace_col(0))} / det",
    "b2": f"{det4(_replace_col(1))} / det",
    "b3": f"{det4(_replace_col(2))} / det",
    "b4": f"{det4(_replace_col(3))} / det",
    # diagonal of (X'X)^-1 = principal cofactors / det (symmetric M)
    "i11": f"{det3([[_M[r][c] for c in range(4) if c != 0] for r in range(4) if r != 0])} / det",
    "i22": f"{det3([[_M[r][c] for c in range(4) if c != 1] for r in range(4) if r != 1])} / det",
    "i33": f"{det3([[_M[r][c] for c in range(4) if c != 2] for r in range(4) if r != 2])} / det",
}
_E1_RSS = {
    "rss": (
        "(syy - 2*(b1*v1 + b2*v2 + b3*v3 + b4*v4)"
        " + (b1*(a11*b1 + a12*b2 + a13*b3 + a14*b4)"
        " + b2*(a12*b1 + a22*b2 + a23*b3 + a24*b4)"
        " + b3*(a13*b1 + a23*b2 + a33*b3 + a34*b4)"
        " + b4*(a14*b1 + a24*b2 + a34*b3 + nn*b4)))"
    ),
    "tss": "(syy - v4*v4/nn)",
}
# t-stats NULL on a perfect fit / non-positive variance product; adj_r2
# NULL on zero total SS (round-7 one-type fuzz); singular designs are
# dropped entirely by the det <> 0 AND nn > 4 guard applied after the
# determinant stage on BOTH engines
_E1_FINAL = {
    "n": "CAST(nn AS BIGINT)",
    "beta_vis": "round(b1, 6)",
    "beta_ib": "round(b2, 6)",
    "beta_hid": "round(b3, 6)",
    "intercept": "round(b4, 6)",
    "t_vis": "round(CASE WHEN rss / (nn - 4) * i11 > 0"
             " THEN b1 / sqrt(rss / (nn - 4) * i11) END, 6)",
    "t_ib": "round(CASE WHEN rss / (nn - 4) * i22 > 0"
            " THEN b2 / sqrt(rss / (nn - 4) * i22) END, 6)",
    "t_hid": "round(CASE WHEN rss / (nn - 4) * i33 > 0"
             " THEN b3 / sqrt(rss / (nn - 4) * i33) END, 6)",
    "adj_r2": "round(CASE WHEN tss > 0"
              " THEN 1 - (rss / (nn - 4)) / (tss / (nn - 1)) END, 6)",
}

_E1_GUARD = "det <> 0 AND nn > 4"


def _e1_frame_sql(delta_sec: int) -> str:
    """The E1 OI frame (plans.workflows.oi_frame) in DuckDB SQL,
    reduced to the micro-quantized regression inputs."""
    return f"""
  SELECT CAST(round(oi_vis * 1e6) AS BIGINT) AS x1m,
         CAST(round(oi_ib * 1e6) AS BIGINT) AS x2m,
         CAST(round(oi_hid * 1e6) AS BIGINT) AS x3m,
         CAST(round(fut * 1e6) AS BIGINT) AS ym
  FROM (
    SELECT bin, oi_vis, oi_ib, oi_hid,
           lead(log_ret) OVER (
             PARTITION BY date_trunc('day', bin - INTERVAL 1 MICROSECOND)
             ORDER BY bin) AS fut
    FROM (
      SELECT g.bin,
             coalesce(b.oi_vis, 0) AS oi_vis,
             coalesce(b.oi_ib, 0) AS oi_ib,
             coalesce(b.oi_hid, 0) AS oi_hid,
             CASE WHEN b.first_price > 0 AND b.last_price > 0
                  THEN ln(b.last_price) - ln(b.first_price) END AS log_ret
      FROM (SELECT unnest(generate_series(
                     (SELECT min(bin) FROM b{delta_sec}),
                     (SELECT max(bin) FROM b{delta_sec}),
                     INTERVAL {delta_sec} SECOND)) AS bin) g
      LEFT JOIN b{delta_sec} b ON g.bin = b.bin))
  WHERE fut IS NOT NULL
"""


def _oi_cond_sql(cond: str) -> str:
    neg = f"sum(CASE WHEN direction=-1 AND {cond} THEN size ELSE 0 END)"
    pos = f"sum(CASE WHEN direction= 1 AND {cond} THEN size ELSE 0 END)"
    return f"CASE WHEN ({neg} + {pos}) <> 0 THEN ({neg} - {pos}) / ({neg} + {pos}) END"


def _e1_oracle() -> str:
    bins = ",\n".join(
        f"""b{d} AS (
  SELECT {bin_end_sql("ts", d)} AS bin,
         {_oi_cond_sql("event_type = 'purchase' AND iceberg = 0")} AS oi_vis,
         {_oi_cond_sql("event_type = 'purchase' AND iceberg = 1")} AS oi_ib,
         {_oi_cond_sql("event_type = 'error'")} AS oi_hid,
         min_by(value, event_id) AS first_price,
         max_by(value, event_id) AS last_price
  FROM tagged GROUP BY 1)"""
        for d in E1_DELTAS
    )
    stats = ", ".join(f"{e} AS {k}" for k, e in _E1_STATS.items())
    det = ", ".join(f"{e} AS {k}" for k, e in _E1_DET.items())
    solve = ", ".join(f"{e} AS {k}" for k, e in _E1_SOLVE.items())
    rss = ", ".join(f"{e} AS {k}" for k, e in _E1_RSS.items())
    finals = ", ".join(f"{e} AS {k}" for k, e in _E1_FINAL.items())
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS BIGINT) AS delta_sec, {finals} FROM (
  SELECT *, {rss} FROM (
    SELECT *, {solve} FROM (
      SELECT *, {det} FROM (
        SELECT {stats} FROM ({_e1_frame_sql(d)}) f{d})
      WHERE {_E1_GUARD})))"""
        for d in E1_DELTAS
    )
    return f"""
WITH lob AS ({EVENTS_LOB_SQL}),
t AS (
  SELECT *,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_sub_us
  FROM lob),
tagged AS (
  SELECT *, CASE WHEN next_sub_us IS NOT NULL
                  AND next_sub_us <= epoch_us(ts) + {ICEBERG_TOL_US}
            THEN 1 ELSE 0 END AS iceberg
  FROM t),
{bins}
{arms}
"""


@register("regression_workflow_coefs", oracle=_e1_oracle())
def regression_workflow_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 (chunk_pipeline.py:353-412): per-delta OI frames -> exact OLS
    of future log return on (oi_vis, oi_ib, oi_hid) -> the OI_results
    coefficient table, one row per delta. See the module docstring for
    the shared-Cramer determinism story; a pytest pins this table to
    plans.workflows.regression_workflow's numpy solve."""
    from dissertation_iceberg_spark.plans.workflows import oi_frame, tagged_lob
    from dissertation_iceberg_spark.session import pin

    # delta-independent tag pass runs ONCE (round-8 E1 rehearsal fix):
    # without the pin each union arm re-ran the event scan + the
    # tagging window sort — the dominant cost of the composed plan at
    # 10x (SCALE.md: e1_workflow rows)
    tg = pin(tagged_lob(spark, sf_dir))
    arms = []
    for delta in E1_DELTAS:
        fr = oi_frame(spark, sf_dir, delta, tagged=tg).filter(
            F.col("fut_log_ret").isNotNull()
        )
        f = fr.select(
            round_long(F.col("oi_vis") * 1e6).alias("x1m"),
            round_long(F.col("oi_ib") * 1e6).alias("x2m"),
            round_long(F.col("oi_hid") * 1e6).alias("x3m"),
            round_long(F.col("fut_log_ret") * 1e6).alias("ym"),
        )
        g = f.agg(*[F.expr(e).alias(k) for k, e in _E1_STATS.items()])
        g = g.select("*", *[F.expr(e).alias(k) for k, e in _E1_DET.items()])
        g = g.filter(F.expr(_E1_GUARD))
        g = g.select("*", *[F.expr(e).alias(k) for k, e in _E1_SOLVE.items()])
        g = g.select("*", *[F.expr(e).alias(k) for k, e in _E1_RSS.items()])
        arms.append(
            g.select(
                F.lit(delta).cast("long").alias("delta_sec"),
                *[F.expr(e).alias(k) for k, e in _E1_FINAL.items()],
            )
        )
    return reduce(DataFrame.unionByName, arms)


# ---------------------------------------------------------------------------
# E2: single-strategy workflow -> per-day signal-following PnL
# ---------------------------------------------------------------------------


def _e2_oracle() -> str:
    from dissertation_iceberg_spark.queries.ml_rolling import (
        _DAILY_SQL,
        TRAIN_DAYS,
    )

    return f"""
WITH daily AS ({_DAILY_SQL}),
xy AS (
  SELECT *, lead(x) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily),
day_gram AS (
  SELECT day,
         count(y) AS n,
         sum(CASE WHEN y IS NOT NULL THEN x ELSE 0 END) AS sx,
         sum(CASE WHEN y IS NOT NULL THEN y ELSE 0 END) AS sy,
         sum(CASE WHEN y IS NOT NULL THEN x * y ELSE 0 END) AS sxy,
         sum(CASE WHEN y IS NOT NULL THEN x * x ELSE 0 END) AS sxx
  FROM xy GROUP BY day),
trail AS (
  SELECT day,
         sum(n)   OVER w AS tn,
         sum(sx)  OVER w AS tsx,
         sum(sy)  OVER w AS tsy,
         sum(sxy) OVER w AS tsxy,
         sum(sxx) OVER w AS tsxx
  FROM day_gram
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {TRAIN_DAYS} PRECEDING AND 1 PRECEDING)),
beta AS (
  SELECT day,
         (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
           / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) AS slope,
         (tsy - (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
                / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) * tsx) / tn
           AS intercept
  FROM trail
  WHERE tn >= 2 AND (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) <> 0),
sig AS (
  SELECT d.day, d.user_id,
         CAST(round((b.intercept + b.slope * d.x) / 100.0 * 1e6) AS BIGINT)
           AS sig_micro
  FROM daily d JOIN beta b ON d.day = b.day),
fut AS (
  SELECT user_id, day,
         lead(cents) OVER (PARTITION BY user_id ORDER BY day) AS fut_cents
  FROM (SELECT user_id, date_trunc('day', ts) AS day,
               sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2)),
j AS (
  SELECT s.day, s.sig_micro, f.fut_cents
  FROM sig s JOIN fut f ON s.user_id = f.user_id AND s.day = f.day
  WHERE f.fut_cents IS NOT NULL),
g AS (
  SELECT day,
    CAST(sum(CASE WHEN sig_micro > 0 THEN fut_cents ELSE 0 END) AS BIGINT)
      AS pc,
    CAST(sum(CASE WHEN sig_micro < 0 THEN fut_cents ELSE 0 END) AS BIGINT)
      AS nc,
    sum(CAST(sig_micro AS HUGEINT) * fut_cents) AS sw,
    CAST(count(*) AS BIGINT) AS n_positions
  FROM j GROUP BY 1)
SELECT day,
  round(CAST(pc - nc AS DOUBLE) / 100, 6) AS pnl_unweighted,
  CAST((CASE WHEN sw < 0 THEN -1 ELSE 1 END) * ((abs(sw) + 50) // 100)
       AS DOUBLE) / 1e6 AS pnl_weighted,
  n_positions
FROM g
"""


@register("single_strategy_workflow_pnl", oracle=_e2_oracle())
def single_strategy_workflow_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (trading_strategy.py:315-324), the full composed pipeline:
    rolling-refit signal -> next-day gross join -> per-day
    signal-following PnL, unweighted (long positives, short
    negatives) and |signal|-weighted. Exactness: signal_hat is
    6dp-rounded (integer micro units) and gross is integer cents, so
    the weighted PnL sums EXACT sig_micro x fut_cents BIGINT products
    — no order-dependent double sums cross a shuffle; a pytest pins
    this table to plans.workflows.single_strategy_workflow's
    double-arithmetic twin."""
    from pyspark.sql import Window

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.ml_rolling import (
        rolling_refit_signal,
    )

    sig = rolling_refit_signal(spark, sf_dir).select(
        "day",
        "user_id",
        round_long(F.col("signal_hat") * 1e6).alias("sig_micro"),
    )
    e = load_table(spark, sf_dir, "events")
    fut = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum(round_long(F.col("value") * 100)).alias("cents"))
        .withColumn(
            "fut_cents",
            F.lead("cents", 1).over(
                Window.partitionBy("user_id").orderBy("day")
            ),
        )
    )
    j = sig.join(fut, ["user_id", "day"]).filter(
        F.col("fut_cents").isNotNull()
    )
    pos = F.col("sig_micro") > 0
    neg = F.col("sig_micro") < 0
    g = j.groupBy("day").agg(
        F.sum(F.when(pos, F.col("fut_cents")).otherwise(0))
        .cast("long")
        .alias("pc"),
        F.sum(F.when(neg, F.col("fut_cents")).otherwise(0))
        .cast("long")
        .alias("nc"),
        # sig_micro (1e6) x fut_cents can reach ~1e14/row — the sum
        # widens to exact DECIMAL(38) (round-6 decimals fuzz; oracle:
        # HUGEINT sum)
        F.sum(
            F.col("sig_micro").cast("decimal(38,0)") * F.col("fut_cents")
        ).alias("sw"),
        F.count(F.lit(1)).cast("long").alias("n_positions"),
    )
    # 6-dp weighted PnL via EXACT integer rounding (round-7 decimals
    # fix): the old round(CAST(sw AS DOUBLE)/1e8, 6) went through a
    # lossy 128-bit -> double conversion whose rounding differed
    # between engines once |sw| passed 2^53 (|pnl| ~ 9e9). Now the
    # half-away-from-zero 6-dp integer q6 is computed in exact decimal/
    # HUGEINT arithmetic and ONLY q6 converts to double — int-to-double
    # is the same IEEE rounding in both engines at any magnitude.
    q6 = F.floor((F.abs(F.col("sw")) + 50) / 100) * F.when(
        F.col("sw") < 0, -1
    ).otherwise(1)
    return g.select(
        "day",
        F.round((F.col("pc") - F.col("nc")).cast("double") / 100, 6).alias(
            "pnl_unweighted"
        ),
        (q6.cast("double") / F.lit(1e6)).alias("pnl_weighted"),
        "n_positions",
    )


# ---------------------------------------------------------------------------
# E3: portfolio strategy workflow -> daily long-short PnL
# ---------------------------------------------------------------------------


def _e3_oracle() -> str:
    from dissertation_iceberg_spark.queries.ml_rolling import (
        _DAILY_SQL,
        TRAIN_DAYS,
    )

    return f"""
WITH daily AS ({_DAILY_SQL}),
xy AS (
  SELECT *, lead(x) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily),
day_gram AS (
  SELECT day,
         count(y) AS n,
         sum(CASE WHEN y IS NOT NULL THEN x ELSE 0 END) AS sx,
         sum(CASE WHEN y IS NOT NULL THEN y ELSE 0 END) AS sy,
         sum(CASE WHEN y IS NOT NULL THEN x * y ELSE 0 END) AS sxy,
         sum(CASE WHEN y IS NOT NULL THEN x * x ELSE 0 END) AS sxx
  FROM xy GROUP BY day),
trail AS (
  SELECT day,
         sum(n)   OVER w AS tn,
         sum(sx)  OVER w AS tsx,
         sum(sy)  OVER w AS tsy,
         sum(sxy) OVER w AS tsxy,
         sum(sxx) OVER w AS tsxx
  FROM day_gram
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {TRAIN_DAYS} PRECEDING AND 1 PRECEDING)),
beta AS (
  SELECT day,
         (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
           / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) AS slope,
         (tsy - (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
                / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) * tsx) / tn
           AS intercept
  FROM trail
  WHERE tn >= 2 AND (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) <> 0),
sig AS (
  SELECT d.day, d.user_id,
         round((b.intercept + b.slope * d.x) / 100.0, 6) AS signal_hat
  FROM daily d JOIN beta b ON d.day = b.day),
fut AS (
  SELECT user_id, day,
         lead(gross) OVER (PARTITION BY user_id ORDER BY day) AS fut_gross
  FROM (SELECT user_id, date_trunc('day', ts) AS day,
               sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS gross
        FROM events GROUP BY 1, 2)),
j AS (
  SELECT s.day, s.user_id, s.signal_hat, f.fut_gross
  FROM sig s JOIN fut f ON s.user_id = f.user_id AND s.day = f.day
  WHERE f.fut_gross IS NOT NULL),
sel AS (
  SELECT day, fut_gross, signal_hat,
         row_number() OVER w AS rnk,
         count(*) OVER (PARTITION BY day) AS n
  FROM j
  WINDOW w AS (PARTITION BY day ORDER BY signal_hat DESC, user_id ASC)),
fl AS (
  SELECT day, fut_gross,
         CASE WHEN rnk <= floor(n * 0.2) AND signal_hat > 0
              THEN 1 ELSE 0 END AS is_top,
         CASE WHEN rnk > n - floor(n * 0.2) AND signal_hat < 0
              THEN 1 ELSE 0 END AS is_bottom
  FROM sel)
SELECT day,
       round(sum(CASE WHEN is_top = 1 THEN fut_gross ELSE 0 END)
           - sum(CASE WHEN is_bottom = 1 THEN fut_gross ELSE 0 END), 6)
         AS pnl,
       CAST(sum(is_top) AS BIGINT) AS n_top,
       CAST(sum(is_bottom) AS BIGINT) AS n_bottom
FROM fl GROUP BY 1
"""


@register("portfolio_workflow_pnl", oracle=_e3_oracle())
def portfolio_workflow_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 (trading_strategy.py:347-464), the FULL composed pipeline as
    one lazy plan: rolling-refit signal (M8 Gram window) -> next-day
    gross join -> cross-sectional top/bottom 20% (W7) -> daily
    long-short PnL + leg counts (A9/A10). Calls
    plans.workflows.portfolio_strategy_workflow verbatim — this entry
    puts the composition itself on the driver's oracle gate."""
    from dissertation_iceberg_spark.plans.workflows import (
        portfolio_strategy_workflow,
    )

    out = portfolio_strategy_workflow(spark, sf_dir)
    return out.select(
        "day",
        "pnl",
        F.col("n_top").cast("long").alias("n_top"),
        F.col("n_bottom").cast("long").alias("n_bottom"),
    )
