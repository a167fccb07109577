"""Regression-engine queries (SURVEY §2.10 A18-A20).

The OLS sufficient statistics are computed as one distributed
aggregation; the closed-form single-feature solution is expressed
directly in SQL on both engines so the whole path is oracle-checked
(slope/intercept/R²/t-stat). The multi-feature Gram-matrix kernel
(operators.regression.ols_fit) is exercised in tests against this
closed form and against DuckDB's regr_* aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators.regression import (
    centred_comoment,
    moment_sums,
    scaled_comoment,
    simple_ols,
    simple_ols_sql,
)
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import r6, round_long


@register(
    "ols_value_on_user",
    oracle=simple_ols_sql("SELECT * FROM events", "user_id", "value", ["event_type"]),
)
def ols_value_on_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18/A20: exact per-group OLS (value ~ user_id) with t-stat and R²
    from one aggregation pass (chunk_pipeline.py:201-243 semantics,
    exact path of ClOp_calc.py:38-57)."""
    df = load_table(spark, sf_dir, "events")
    return simple_ols(df, "user_id", "value", ["event_type"])


_IMPACT_ORACLE = simple_ols_sql(
    """
    SELECT l_returnflag, l_discount AS x_disc, l_extendedprice AS y_price
    FROM lineitem
    """,
    "x_disc",
    "y_price",
    ["l_returnflag"],
)


@register("ols_price_on_discount", oracle=_IMPACT_ORACLE)
def ols_price_on_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-impact-shaped regression on the large fact table: the same
    OLS kernel at lineitem scale (one pass, map-side combinable)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_discount").alias("x_disc"),
        F.col("l_extendedprice").alias("y_price"),
    )
    return simple_ols(li, "x_disc", "y_price", ["l_returnflag"])


# --------------------------------------------------------------------------
# A18: two-feature OLS with t-stats + adj-R² via the Gram-matrix kernel.
# The closed-form solve (Cramer, 3×3 with intercept) is written ONCE as
# SQL formula strings evaluated by BOTH engines (Spark F.expr == DuckDB
# SQL), over sufficient statistics that are exact integer-scaled sums —
# so beta/intercept match bit-for-bit and only Syy-dependent outputs
# (t, R²) rely on the 6-dp rounding.
# --------------------------------------------------------------------------

# sufficient statistics (a..f = upper triangle of [x1,x2,1]'[x1,x2,1])
# NB: literals must be written in scientific notation (1e4, not
# 10000.0) — Spark SQL parses `10000.0` as DECIMAL which would switch
# the whole expression tree to exact decimal arithmetic while DuckDB
# stays in doubles; `1e4` is DOUBLE in both.
_STATS_SQL = {
    "a": "sum(x1c * x1c) / 1e4",  # Σx1²
    "b": "sum(x1c * x2c) / 1e4",  # Σx1x2
    "c": "sum(x1c) / 1e2",  # Σx1
    "d": "sum(x2c * x2c) / 1e4",  # Σx2²
    "e2": "sum(x2c) / 1e2",  # Σx2
    "f": "CAST(count(*) AS DOUBLE)",  # n
    "p": "sum(x1c * yc) / 1e4",  # Σx1y
    "q": "sum(x2c * yc) / 1e4",  # Σx2y
    "r": "sum(yc) / 1e2",  # Σy
    "syy": "sum(CAST(yc AS DOUBLE) * CAST(yc AS DOUBLE)) / 1e4",  # Σy²
}

_DET = "(a*(d*f - e2*e2) - b*(b*f - e2*c) + c*(b*e2 - d*c))"
_DET1 = "(p*(d*f - e2*e2) - b*(q*f - e2*r) + c*(q*e2 - d*r))"
_DET2 = "(a*(q*f - e2*r) - p*(b*f - e2*c) + c*(b*r - q*c))"
_DET3 = "(a*(d*r - e2*q) - b*(b*r - c*q) + p*(b*e2 - d*c))"

_BETA = {
    "beta1": f"{_DET1} / {_DET}",
    "beta2": f"{_DET2} / {_DET}",
    "intercept": f"{_DET3} / {_DET}",
}
_INV = {
    "inv11": f"(d*f - e2*e2) / {_DET}",
    "inv22": f"(a*f - c*c) / {_DET}",
    "inv33": f"(a*d - b*b) / {_DET}",
    # off-diagonal cofactor (x1,x2) — needed for linear-hypothesis
    # tests like t_test(beta1 - beta2 = 0) (A22)
    "inv12": f"-(b*f - e2*c) / {_DET}",
}
_RSS = (
    "(syy - 2*(beta1*p + beta2*q + intercept*r)"
    " + (beta1*(a*beta1 + b*beta2 + c*intercept)"
    " + beta2*(b*beta1 + d*beta2 + e2*intercept)"
    " + intercept*(c*beta1 + e2*beta2 + f*intercept)))"
)
_TSS = "(syy - r*r/f)"

# degenerate guards (round-7 tiny fuzz, the regression_workflow_coefs
# convention): singular designs (det = 0) and n <= 3 groups emit ZERO
# rows (filter below); a perfect fit (RSS <= 0) or zero TSS NULLs the
# t-stats / adj-R². The guards live in these SHARED strings so both
# engines evaluate the identical expression tree.
_DEGENERATE_FILTER = f"{_DET} <> 0 AND f > 3"

_FINAL = {
    "n": "CAST(f AS BIGINT)",
    "beta1_r": "round(beta1, 6)",
    "beta2_r": "round(beta2, 6)",
    "intercept_r": "round(intercept, 6)",
    "t_beta1": (
        f"round(CASE WHEN {_RSS} > 0 THEN"
        f" beta1 / sqrt({_RSS} / (f - 3) * inv11) END, 6)"
    ),
    "t_beta2": (
        f"round(CASE WHEN {_RSS} > 0 THEN"
        f" beta2 / sqrt({_RSS} / (f - 3) * inv22) END, 6)"
    ),
    "adj_r2": (
        f"round(CASE WHEN {_TSS} <> 0 THEN"
        f" 1 - ({_RSS} / (f - 3)) / ({_TSS} / (f - 1)) END, 6)"
    ),
    # A22: t-test of beta1 == beta2 (direction_analysis.ipynb cells
    # 63-65: t_test('order_imbalance_ib - order_imbalance = 0')) —
    # var(b1−b2) = σ²(inv11 + inv22 − 2·inv12)
    "t_equal": (
        f"round(CASE WHEN {_RSS} > 0 THEN (beta1 - beta2) /"
        f" sqrt({_RSS} / (f - 3)"
        " * (inv11 + inv22 - 2 * inv12)) END, 6)"
    ),
}

_OLS2_INPUT_SQL = """
SELECT l_returnflag,
       CAST(round(l_discount * 100) AS BIGINT) AS x1c,
       CAST(round(l_tax * 100) AS BIGINT) AS x2c,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
FROM lineitem
"""


def _ols2_oracle() -> str:
    stats = ", ".join(f"{expr} AS {k}" for k, expr in _STATS_SQL.items())
    betas = ", ".join(f"{expr} AS {k}" for k, expr in _BETA.items())
    invs = ", ".join(f"{expr} AS {k}" for k, expr in _INV.items())
    finals = ", ".join(f"{expr} AS {k}" for k, expr in _FINAL.items())
    return f"""
WITH inp AS ({_OLS2_INPUT_SQL}),
g0 AS (SELECT l_returnflag, {stats} FROM inp GROUP BY l_returnflag),
g AS (SELECT * FROM g0 WHERE {_DEGENERATE_FILTER}),
s AS (SELECT *, {betas}, {invs} FROM g)
SELECT l_returnflag, {finals} FROM s
"""


@register("ols2_gram", oracle=_ols2_oracle())
def ols2_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: price ~ discount + tax per return flag — Gram sufficient
    statistics in one distributed pass, closed-form 3×3 solve with
    t-stats and adjusted R² (chunk_pipeline.py:201-243)."""
    li = load_table(spark, sf_dir, "lineitem")
    inp = li.select(
        "l_returnflag",
        round_long(F.col("l_discount") * 100).alias("x1c"),
        round_long(F.col("l_tax") * 100).alias("x2c"),
        round_long(F.col("l_extendedprice") * 100).alias("yc"),
    )
    g = inp.groupBy("l_returnflag").agg(
        *[F.expr(expr).alias(k) for k, expr in _STATS_SQL.items()]
    )
    g = g.filter(F.expr(_DEGENERATE_FILTER))
    s = g.select(
        "*",
        *[F.expr(expr).alias(k) for k, expr in _BETA.items()],
        *[F.expr(expr).alias(k) for k, expr in _INV.items()],
    )
    return s.select(
        "l_returnflag", *[F.expr(expr).alias(k) for k, expr in _FINAL.items()]
    )


# --------------------------------------------------------------------------
# A20/ClOp: close-to-open returns (ClOp_calc.py:25-57 input construction)
# --------------------------------------------------------------------------

_CLOP_ORACLE = """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         min_by(value, event_id) AS open_px,
         max_by(value, event_id) AS close_px
  FROM events GROUP BY 1, 2)
SELECT user_id, day,
       round(CASE WHEN close_px > 0
                   AND lead(open_px) OVER (PARTITION BY user_id ORDER BY day) > 0
             THEN ln(lead(open_px) OVER (PARTITION BY user_id ORDER BY day)
                     / close_px) END, 6) AS clop_ret,
       round(CASE WHEN open_px > 0 AND close_px > 0
             THEN ln(close_px / open_px) END, 6) AS intraday_ret
FROM d
"""


@register("clop_returns", oracle=_CLOP_ORACLE)
def clop_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClOp: close-to-next-open log returns per key — daily first/last
    via min_by/max_by on the sequence, lead over days
    (order_imbalance.py:206-226)."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.expr("min_by(value, event_id)").alias("open_px"),
        F.expr("max_by(value, event_id)").alias("close_px"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    nxt_open = F.lead("open_px", 1).over(w)
    return d.select(
        "user_id",
        "day",
        F.round(
            F.when(
                (F.col("close_px") > 0) & (nxt_open > 0),
                F.log(nxt_open / F.col("close_px")),
            ),
            6,
        ).alias("clop_ret"),
        F.round(
            F.when(
                (F.col("open_px") > 0) & (F.col("close_px") > 0),
                F.log(F.col("close_px") / F.col("open_px")),
            ),
            6,
        ).alias("intraday_ret"),
    )


# --------------------------------------------------------------------------
# Theil–Sen robust slope (Theil's incomplete split-pairing form)
# --------------------------------------------------------------------------

_TS_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT),
             CAST(round(l_extendedprice * 100) AS BIGINT)
           ORDER BY l_orderkey, l_linenumber) AS tb
  FROM lineitem),
r AS (
  SELECT flag, qc, cents,
         row_number() OVER (PARTITION BY flag
           ORDER BY (qc * 16777216 + cents) * 1048576 + tb) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM v),
pairs AS (
  SELECT a.flag, b.cents - a.cents AS num, b.qc - a.qc AS den
  FROM r a JOIN r b
    ON a.flag = b.flag AND b.rn = a.rn + a.n // 2
  WHERE a.n >= 2 AND b.qc > a.qc),
lv AS (
  SELECT flag, CAST(num AS DOUBLE) / den AS slope, count(*) AS w
  FROM pairs GROUP BY 1, 2),
c AS (
  SELECT *, sum(w) OVER (PARTITION BY flag ORDER BY slope) AS cw,
         sum(w) OVER (PARTITION BY flag) AS tw
  FROM lv)
SELECT flag, round(min(slope), 6) AS theil_slope,
       CAST(max(tw) AS BIGINT) AS n_pairs
FROM c WHERE 2 * cw >= tw
GROUP BY 1
"""


@register("theil_sen_slope", oracle=_TS_ORACLE)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of extendedprice on quantity per return
    flag, in Theil's INCOMPLETE (split-pairing) form: rank each group
    by (quantity, order, line), pair rank r with rank r + n//2, and
    take the median pair slope — a consistent robust-slope estimator
    (50% breakdown of the complete form drops to 25%, the standard
    trade) that costs O(n) pairs instead of the complete estimator's
    O(n^2), the difference between feasible and not at 100 TB.

    Determinism: the rank key is (qc, cents, tb) packed into one
    bigint, where tb numbers duplicates WITHIN a (flag, qc, cents)
    level — the driver's synthetic lineitem does NOT enforce the
    (orderkey, linenumber) PK, so no natural column is unique. Rows
    sharing (qc, cents) are exchangeable: a pair's (num, den) depends
    only on those two values, so the slope MULTISET (hence the median)
    is invariant to how either engine breaks full ties. Pair slopes
    are exact-integer numerator/denominator with ONE identical double
    division per distinct pair level; the median is the lower weighted
    median (integer threshold 2*cw >= tw) over collapsed slope levels
    — no float comparison an engine could tie-break differently.

    Scale shape: ranks via the grouped bucketed two-pass cumsum
    machinery (functions/ranks.py), NOT a per-group ordered window
    over the fact frame; pairing is one equi-join on (flag, rank);
    the median reuses the weighted_median prefix-threshold pick over
    O(distinct slopes) levels. No stage sorts row-scale data."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    li = load_table(spark, sf_dir, "lineitem")
    tbw = Window.partitionBy("flag", "qc", "cents").orderBy(
        "l_orderkey", "l_linenumber"
    )
    # Round 9 (§5): `base` (a full-fact window pass) feeds the cumsum
    # kernel — which itself consumes its input twice (min/max stats +
    # the bucketed frame) — plus the per-flag count; `ranked` then
    # feeds BOTH pair-join sides. Unpinned, the before-plan carried
    # 298 Exchange refs and re-ran the (flag,qc,cents) window and the
    # rank kernel once per reference (~7 s at sf0.1). Two pins of the
    # narrow O(rows) frames cut that to one window pass + one kernel
    # pass; values are untouched (pins are physical-only).
    base = pin(
        li.select(
            F.col("l_returnflag").alias("flag"),
            round_long(F.col("l_quantity") * 100).alias("qc"),
            round_long(F.col("l_extendedprice") * 100).alias("cents"),
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("tb", F.row_number().over(tbw))
        .select(
            "flag",
            "qc",
            "cents",
            ((F.col("qc") * F.lit(16777216) + F.col("cents")) * F.lit(1048576)
             + F.col("tb")).alias("qkey"),
            F.lit(1).alias("one"),
        )
    )
    ranked = pin(
        bucketed_exclusive_cumsums(
            base, "qkey", ["one"], group_cols=["flag"]
        ).withColumn("rn", F.col("cum_one") + 1)
    )
    n = base.groupBy("flag").agg(F.count(F.lit(1)).alias("n"))
    a = ranked.join(F.broadcast(n), "flag").filter(F.col("n") >= 2)
    b = ranked.select(
        "flag",
        F.col("rn").alias("rn2"),
        F.col("qc").alias("qc2"),
        F.col("cents").alias("cents2"),
    )
    pairs = (
        a.withColumn("rn2", F.col("rn") + F.expr("n div 2"))
        .join(b, ["flag", "rn2"])
        .filter(F.col("qc2") > F.col("qc"))
        .select(
            "flag",
            (F.col("cents2") - F.col("cents")).alias("num"),
            (F.col("qc2") - F.col("qc")).alias("den"),
        )
    )
    # lv feeds the slope-cumsum kernel (2 internal consumers) plus the
    # per-flag total — pinned for the same reason as `ranked` above
    # (each reference otherwise re-runs the O(rows) pair join)
    lv = pin(
        pairs.groupBy(
            "flag", (F.col("num").cast("double") / F.col("den")).alias("slope")
        ).agg(F.count(F.lit(1)).alias("w"))
    )
    cum = bucketed_exclusive_cumsums(
        lv, "slope", ["w"], group_cols=["flag"]
    ).withColumn("cw", F.col("cum_w") + F.col("w"))
    tot = lv.groupBy("flag").agg(F.sum("w").cast("long").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.round(F.min("slope"), 6).alias("theil_slope"),
            F.max("tw").cast("long").alias("n_pairs"),
        )
    )


# --------------------------------------------------------------------------
# Ridge regression via the same Gram kernel (L2-regularized variant)
# --------------------------------------------------------------------------

_RIDGE_LAMBDA = "1e2"  # scientific notation: DOUBLE literal in both engines

_RIDGE_FINAL = {
    "n": "CAST(f AS BIGINT)",
    "lambda_l2": f"round({_RIDGE_LAMBDA}, 6)",
    "beta1_ridge": "round(beta1, 6)",
    "beta2_ridge": "round(beta2, 6)",
    "intercept_ridge": "round(intercept, 6)",
}


def _ridge_oracle() -> str:
    stats = ", ".join(f"{expr} AS {k}" for k, expr in _STATS_SQL.items())
    betas = ", ".join(f"{expr} AS {k}" for k, expr in _BETA.items())
    finals = ", ".join(f"{expr} AS {k}" for k, expr in _RIDGE_FINAL.items())
    lam = _RIDGE_LAMBDA
    return f"""
WITH inp AS ({_OLS2_INPUT_SQL}),
g AS (SELECT l_returnflag, {stats} FROM inp GROUP BY l_returnflag),
g2 AS (SELECT l_returnflag, a + {lam} AS a, b, c, d + {lam} AS d,
              e2, f, p, q, r, syy FROM g),
s AS (SELECT *, {betas} FROM g2)
SELECT l_returnflag, {finals} FROM s
"""


@register("ridge_gram", oracle=_ridge_oracle())
def ridge_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge (L2-regularized) regression price ~ discount + tax per
    return flag: identical one-pass Gram sufficient statistics as
    `ols2_gram`, with λ added to the feature diagonal of the normal
    equations before the SAME closed-form Cramer solve — the intercept
    row stays unpenalized (minimizing ‖y−Xβ−c‖² + λ‖β‖² yields
    (G + λ·diag(1,1,0))θ = X'y, no centering needed). The shrinkage
    path a cluster-scale hyperparameter sweep would grid over λ; each
    λ reuses the same cached Gram — training cost is ONE scan
    regardless of grid size.

    Parity: sufficient statistics are exact integer-scaled sums; λ is
    a binary-exact scientific-notation literal; the solve is the same
    formula-string expression tree evaluated by both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    inp = li.select(
        "l_returnflag",
        round_long(F.col("l_discount") * 100).alias("x1c"),
        round_long(F.col("l_tax") * 100).alias("x2c"),
        round_long(F.col("l_extendedprice") * 100).alias("yc"),
    )
    g = inp.groupBy("l_returnflag").agg(
        *[F.expr(expr).alias(k) for k, expr in _STATS_SQL.items()]
    )
    lam = F.expr(_RIDGE_LAMBDA)
    g2 = g.select(
        "l_returnflag",
        (F.col("a") + lam).alias("a"),
        "b",
        "c",
        (F.col("d") + lam).alias("d"),
        "e2",
        "f",
        "p",
        "q",
        "r",
        "syy",
    )
    s = g2.select(
        "*", *[F.expr(expr).alias(k) for k, expr in _BETA.items()]
    )
    return s.select(
        "l_returnflag",
        *[F.expr(expr).alias(k) for k, expr in _RIDGE_FINAL.items()],
    )


# --------------------------------------------------------------------------
# Split-conformal prediction interval with held-out coverage audit
# --------------------------------------------------------------------------

_CONF_ALPHA = 0.1  # target 90% coverage

_CONF_ORACLE = f"""
WITH src AS (
  SELECT l_orderkey * 8 + l_linenumber AS rid,
         (l_orderkey * 8 + l_linenumber) % 4 AS part,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
beta AS (
  SELECT (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b1,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx)
           / n AS b0,
         n AS n_train
  FROM (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM src WHERE part <= 1)),
cal AS (
  SELECT CAST(round(abs(y - (b0 + b1 * x))) AS BIGINT) AS r
  FROM src CROSS JOIN beta WHERE part = 2),
ncal AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
rv AS (
  SELECT r, CAST(sum(count(*)) OVER (ORDER BY r) AS BIGINT) AS cum
  FROM cal GROUP BY r),
qhat AS (
  SELECT min(r) AS q_cents FROM rv CROSS JOIN ncal
  WHERE cum >= CAST(ceil((n_cal + 1) * (1e0 - {_CONF_ALPHA!r})) AS BIGINT)),
test AS (
  SELECT count(*) AS n_test,
         sum(CASE WHEN CAST(round(abs(y - (b0 + b1 * x))) AS BIGINT)
                       <= q_cents
             THEN 1 ELSE 0 END) AS n_cov
  FROM src CROSS JOIN beta CROSS JOIN qhat WHERE part = 3)
SELECT beta.n_train,
       ncal.n_cal,
       CAST(test.n_test AS BIGINT) AS n_test,
       CAST(round(beta.b0 * 1e6) AS BIGINT) / 1e6 AS beta0_cents,
       CAST(round(beta.b1 * 1e6) AS BIGINT) / 1e6 AS beta1_cents,
       qhat.q_cents AS q_hat_cents,
       CAST(round((CAST(test.n_cov AS DOUBLE) / test.n_test) * 1e6)
            AS BIGINT) / 1e6 AS coverage
FROM beta CROSS JOIN ncal CROSS JOIN qhat CROSS JOIN test
"""


@register("conformal_interval", oracle=_CONF_ORACLE)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price-on-quantity
    regression: OLS fit on the train split, conformal quantile q_hat =
    the ceil((n+1)(1-alpha)) order statistic of absolute calibration
    residuals, then an honest COVERAGE AUDIT on a disjoint test split
    (finite-sample guarantee: coverage >= 1-alpha regardless of model
    quality). The distribution-free uncertainty layer a production
    scoring pipeline wraps around any point predictor; complements
    calibration_bins (classification) with the regression analogue.

    Splits are deterministic by row-id modulus (train 0-1, calibration
    2, test 3) — the stratified_split convention.

    Scale shape: three disjoint single-pass integer reductions over
    the fact scan plus one distinct-VALUE cumulative frame for the
    order statistic (residuals rounded to whole cents => value-domain
    bounded, no row-scale sort — the repo's standard order-statistic
    recipe); every scalar (betas, n, q_hat) rides a scalar-subquery 1-row
    frame (BNLJ allowlisted).

    Parity: OLS inputs are exact integer sums; betas and residuals
    are single identical double expressions; residuals round ONCE to
    BIGINT cents before ranking and comparison, so the quantile pick
    and the coverage count are exact integer logic. Residual risk:
    the accepted half-ulp tie class on round(|y - yhat|)."""
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) % 4).alias("part"),
        F.col("l_quantity").cast("long").alias("x"),
        round_long(F.col("l_extendedprice") * 100).alias("y"),
    )
    tr = src.filter(F.col("part") <= 1).agg(
        *moment_sums(F.col("x"), F.col("y"))
    )
    b1 = scaled_comoment("n", "sxy", "sx", "sy") / scaled_comoment(
        "n", "sxx", "sx", "sx"
    )
    beta = tr.select(
        b1.alias("b1"),
        ((F.col("sy").cast("double") - b1 * F.col("sx")) / F.col("n")).alias(
            "b0"
        ),
        F.col("n").alias("n_train"),
    )
    resid = round_long(
        F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x")))
    )
    cal = (
        src.filter(F.col("part") == 2)
        .transform(with_scalars, beta)
        .select(resid.alias("r"))
    )
    ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    rv = (
        cal.groupBy("r")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "r",
            F.sum("f").over(Window.orderBy("r")).cast("long").alias("cum"),
        )
    )
    qhat = (
        rv.transform(with_scalars, ncal)
        .filter(
            F.col("cum")
            >= F.ceil((F.col("n_cal") + 1) * (1.0 - _CONF_ALPHA)).cast("long")
        )
        .agg(F.min("r").alias("q_cents"))
    )
    test = (
        src.filter(F.col("part") == 3)
        .transform(with_scalars, beta)
        .transform(with_scalars, qhat)
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(resid <= F.col("q_cents"), 1).otherwise(0)).alias(
                "n_cov"
            ),
        )
    )
    out = (
        beta.transform(with_scalars, ncal)
        .transform(with_scalars, qhat)
        .transform(with_scalars, test)
    )
    return out.select(
        "n_train",
        "n_cal",
        F.col("n_test").cast("long").alias("n_test"),
        r6(F.col("b0")).alias(
            "beta0_cents"
        ),
        r6(F.col("b1")).alias(
            "beta1_cents"
        ),
        F.col("q_cents").alias("q_hat_cents"),
        (
            r6(F.col("n_cov").cast("double") / F.col("n_test"))
        ).alias("coverage"),
    )


# --------------------------------------------------------------------------
# Huber one-step robust regression (W-estimator with MAD scale)
# --------------------------------------------------------------------------

_HUBER_K = 1.9941097  # 1.345 * 1.4826 (Huber c on the MAD scale)

_HUBER_ORACLE = f"""
WITH src AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
s0 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM src),
beta AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b1,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx)
           / n AS b0
  FROM s0),
res AS (
  SELECT x, y,
         CAST(round(abs(y - (b0 + b1 * x))) AS BIGINT) AS r
  FROM src CROSS JOIN beta),
rv AS (
  SELECT r, CAST(sum(count(*)) OVER (ORDER BY r) AS BIGINT) AS cum
  FROM res GROUP BY r),
mad AS (
  SELECT min(r) AS mad_c FROM rv CROSS JOIN beta
  WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT)),
cc AS (
  SELECT CAST(round({_HUBER_K!r} * mad_c) AS BIGINT) AS c FROM mad),
wts AS (
  SELECT x, y,
         CASE WHEN r <= c THEN CAST(1000000 AS BIGINT)
              ELSE CAST(round(CAST(c AS DOUBLE) * 1e6 / r) AS BIGINT)
         END AS w
  FROM res CROSS JOIN cc),
s1 AS (
  SELECT CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(w * x) AS BIGINT) AS swx,
         CAST(CAST(sum(CAST(w AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS swy,
         CAST(CAST(sum(CAST(w * x AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
           AS swxy,
         CAST(sum(w * x * x) AS BIGINT) AS swxx
  FROM wts)
SELECT beta.n AS n_rows, mad.mad_c AS mad_cents, cc.c AS huber_c_cents,
       CAST(round(beta.b0 * 1e6) AS BIGINT) / 1e6 AS beta0_ols,
       CAST(round(beta.b1 * 1e6) AS BIGINT) / 1e6 AS beta1_ols,
       CAST(round((
         (s1.swy
          - CAST(s1.swx AS DOUBLE)
            * ((CAST(s1.sw AS DOUBLE) * s1.swxy
                - CAST(s1.swx AS DOUBLE) * s1.swy)
               / (CAST(s1.sw AS DOUBLE) * s1.swxx
                  - CAST(s1.swx AS DOUBLE) * s1.swx)))
         / CAST(s1.sw AS DOUBLE)
       ) * 1e6) AS BIGINT) / 1e6 AS beta0_huber,
       CAST(round((
         (CAST(s1.sw AS DOUBLE) * s1.swxy
          - CAST(s1.swx AS DOUBLE) * s1.swy)
         / (CAST(s1.sw AS DOUBLE) * s1.swxx
            - CAST(s1.swx AS DOUBLE) * s1.swx)
       ) * 1e6) AS BIGINT) / 1e6 AS beta1_huber
FROM beta CROSS JOIN mad CROSS JOIN cc CROSS JOIN s1
"""


@register("huber_regression", oracle=_HUBER_ORACLE)
def huber_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step Huber W-estimator for price-on-quantity: OLS fit ->
    MAD residual scale -> Huber weights w = min(1, c/|r|) with
    c = 1.345 * 1.4826 * MAD -> weighted re-fit. Bounds the influence
    of gross price outliers that drag plain OLS (complements
    theil_sen_slope's pure-rank route with the classical M-estimation
    one); one reweight step is the standard scalable form — each
    further IRLS step would be one more identical pass.

    Scale shape: three single-pass fact reductions (OLS sums, residual
    value histogram, weighted sums) plus the distinct-value cumulative
    frame for the MAD order statistic (residuals rounded to whole
    cents — value-domain bounded, no row-scale sort). Scalars ride
    1-row frames injected as merged scalar subqueries.

    Parity: every reduction is an exact integer sum — weights are
    micro-quantized BIGINT (round(c*1e6/|r|)), and the two weighted
    sums whose terms exceed int64 (w*y, w*x*y) run in 128-bit (Spark
    decimal(38,0), DuckDB HUGEINT). Betas are identical single double
    expressions over the exact sums. Residual risk: the accepted
    half-ulp tie class on round(|r|) and round(c*1e6/|r|)."""
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        round_long(F.col("l_extendedprice") * 100).alias("y"),
    )
    s0 = src.agg(*moment_sums(F.col("x"), F.col("y")))
    b1 = scaled_comoment("n", "sxy", "sx", "sy") / scaled_comoment(
        "n", "sxx", "sx", "sx"
    )
    beta = s0.select(
        "n",
        b1.alias("b1"),
        ((F.col("sy").cast("double") - b1 * F.col("sx")) / F.col("n")).alias(
            "b0"
        ),
    )
    res = src.transform(with_scalars, beta).select(
        "x",
        "y",
        "n",
        round_long(F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))))
        .alias("r"),
    )
    rv = (
        res.groupBy("r")
        .agg(F.count(F.lit(1)).alias("f"), F.first("n").alias("n"))
        .select(
            "r",
            "n",
            F.sum("f").over(Window.orderBy("r")).cast("long").alias("cum"),
        )
    )
    mad = rv.filter(
        F.col("cum") >= F.ceil(0.5 * F.col("n")).cast("long")
    ).agg(F.min("r").alias("mad_c"))
    cc = mad.select(
        "mad_c",
        round_long(F.lit(_HUBER_K) * F.col("mad_c")).alias("c"),
    )
    wts = res.transform(with_scalars, cc).select(
        "x",
        "y",
        F.when(F.col("r") <= F.col("c"), F.lit(1_000_000).cast("long"))
        .otherwise(
            round_long(F.col("c").cast("double") * 1e6 / F.col("r"))
        )
        .alias("w"),
    )
    dec = "decimal(38,0)"
    s1 = wts.agg(
        F.sum("w").cast("long").alias("sw"),
        F.sum(F.col("w") * F.col("x")).cast("long").alias("swx"),
        F.sum(F.col("w").cast(dec) * F.col("y")).cast("double").alias("swy"),
        F.sum((F.col("w") * F.col("x")).cast(dec) * F.col("y"))
        .cast("double")
        .alias("swxy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).cast("long").alias("swxx"),
    )
    out = (
        beta.transform(with_scalars, mad)
        .transform(with_scalars, cc.select("c"))
        .transform(with_scalars, s1)
    )
    swd = F.col("sw").cast("double")
    b1h = (swd * F.col("swxy") - F.col("swx").cast("double") * F.col("swy")) / (
        swd * F.col("swxx") - F.col("swx").cast("double") * F.col("swx")
    )
    b0h = (F.col("swy") - F.col("swx").cast("double") * b1h) / swd
    return out.select(
        F.col("n").alias("n_rows"),
        F.col("mad_c").alias("mad_cents"),
        F.col("c").alias("huber_c_cents"),
        r6(F.col("b0")).alias(
            "beta0_ols"
        ),
        r6(F.col("b1")).alias(
            "beta1_ols"
        ),
        r6(b0h).alias("beta0_huber"),
        r6(b1h).alias("beta1_huber"),
    )


# --------------------------------------------------------------------------
# Per-brand price elasticity (log-log OLS on exact quantized Grams)
# --------------------------------------------------------------------------

_ELAST_ORACLE = """
WITH r AS (
  SELECT p.p_brand AS brand,
         CAST(round(ln(l_extendedprice / l_quantity) * 1e3) AS BIGINT)
           AS x,
         CAST(round(ln(l_quantity) * 1e3) AS BIGINT) AS y
  FROM lineitem JOIN part p ON l_partkey = p_partkey),
g AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM r GROUP BY 1 HAVING count(*) >= 3)
SELECT brand, n AS n_obs,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
    AS elasticity,
  round((CAST(sy AS DOUBLE)
         - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
        / n / 1e3, 6) AS intercept_ln_qty,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n), 6)
    AS r_squared
FROM g
"""


@register("price_elasticity", oracle=_ELAST_ORACLE)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log regression
    ln(quantity) ~ ln(unit price) per part brand — the slope IS the
    elasticity (a 1% price increase moves quantity by elasticity %),
    the classic retail pricing diagnostic that the level-space
    ``ols_price_on_discount`` family cannot produce (elasticity is
    only a constant in logs).

    Determinism: both log transforms milli-round to BIGINT per row
    (the libm rule; the quantum is the precision/overflow dial — at
    1e-3, per-brand Gram sums stay under 2^63 through ~1e8 rows per
    brand), so the five Gram sums are exact integer arithmetic under
    any shuffle order; slope / intercept / R^2 are then identically
    shaped float expressions of those exact sums (the cross products
    would overflow BIGINT, so they evaluate in double — mirrored, not
    summed, hence still hash-stable).

    Scale shape: one broadcast dim join (part brands onto the fact
    scan), one map-side-combinable per-brand aggregate of five
    integer sums, O(brands) output. Nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    r = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select(
        "brand",
        round_long(
            F.log(F.col("l_extendedprice") / F.col("l_quantity")) * 1e3
        )
        .alias("x"),
        round_long(F.log(F.col("l_quantity")) * 1e3)
        .alias("y"),
    )
    g = (
        r.groupBy("brand")
        .agg(*moment_sums(F.col("x"), F.col("y")))
        .filter(F.col("n") >= 3)
    )
    syd = F.col("sy").cast("double")
    b = scaled_comoment("n", "sxy", "sx", "sy") / scaled_comoment(
        "n", "sxx", "sx", "sx"
    )
    return g.select(
        "brand",
        F.col("n").alias("n_obs"),
        F.round(b, 6).alias("elasticity"),
        F.round((syd - b * F.col("sx")) / F.col("n") / 1e3, 6).alias(
            "intercept_ln_qty"
        ),
        F.round(
            b
            * centred_comoment("n", "sxy", "sx", "sy")
            / centred_comoment("n", "syy", "sy", "sy"),
            6,
        ).alias("r_squared"),
    )
