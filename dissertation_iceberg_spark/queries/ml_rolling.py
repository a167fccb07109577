"""M8 rolling-window refit + A14 distribution test, Spark-first.

The reference's rolling refit (trading_strategy.py:138-245) re-derives
five days of OI from raw archives and re-fits sklearn per day — a
driver loop over the whole pipeline. Here the same semantics become
ONE distributed pass: per-day OLS sufficient statistics (Gram sums are
associative) + a window sum over the trailing training days + the
closed-form solve — no iteration, no re-reads, fully SQL-expressible
(so the whole M8 path is oracle-checked). Integer-cents sums make the
fitted coefficients bit-identical across engines.

A14 (anderson/mannwhitney across groups, direction_analysis.ipynb
cells 75-80): scipy is not distributed; instead the Mann-Whitney U
statistic with normal approximation is computed from average ranks —
rank sums ARE distributable window/agg expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators.regression import moment_sums
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.functions.exact import round_long

TRAIN_DAYS = 5

_DAILY_SQL = """
SELECT user_id, date_trunc('day', ts) AS day,
       sum(CAST(round(value * 100) AS BIGINT)) AS x
FROM events GROUP BY 1, 2
"""

_ROLLING_ORACLE = f"""
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
  WINDOW w AS (ORDER BY day ROWS BETWEEN {TRAIN_DAYS} PRECEDING AND 1 PRECEDING)),
beta AS (
  SELECT day,
         CAST(tn AS BIGINT) AS n_train,
         (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
           / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) AS slope,
         (tsy - (tsxy - CAST(tsx AS DOUBLE) * tsy / tn)
                / (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) * tsx) / tn AS intercept
  FROM trail
  WHERE tn >= 2 AND (tsxx - CAST(tsx AS DOUBLE) * tsx / tn) <> 0)
SELECT d.day, d.user_id,
       round(b.slope, 6) AS slope,
       round((b.intercept + b.slope * d.x) / 100.0, 6) AS signal_hat,
       b.n_train
FROM daily d JOIN beta b ON d.day = b.day
"""


@register("rolling_refit_signal", oracle=_ROLLING_ORACLE)
def rolling_refit_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: per-day model refit on the trailing {TRAIN_DAYS}-day window,
    predicting today's signal — associative Gram-sum formulation (one
    aggregation + one window; no driver loop, no data re-reads)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(round_long(F.col("value") * 100)).alias("x"))
    wl = Window.partitionBy("user_id").orderBy("day")
    xy = daily.withColumn("y", F.lead("x", 1).over(wl))
    has_y = F.col("y").isNotNull()
    day_gram = xy.groupBy("day").agg(
        F.count("y").alias("n"),
        F.sum(F.when(has_y, F.col("x")).otherwise(F.lit(0))).alias("sx"),
        F.sum(F.when(has_y, F.col("y")).otherwise(F.lit(0))).alias("sy"),
        F.sum(F.when(has_y, F.col("x") * F.col("y")).otherwise(F.lit(0))).alias("sxy"),
        F.sum(F.when(has_y, F.col("x") * F.col("x")).otherwise(F.lit(0))).alias("sxx"),
    )
    wt = Window.orderBy("day").rowsBetween(-TRAIN_DAYS, -1)
    trail = day_gram.select(
        "day",
        F.sum("n").over(wt).alias("tn"),
        F.sum("sx").over(wt).alias("tsx"),
        F.sum("sy").over(wt).alias("tsy"),
        F.sum("sxy").over(wt).alias("tsxy"),
        F.sum("sxx").over(wt).alias("tsxx"),
    )
    tn = F.col("tn")
    ssx = F.col("tsxx") - F.col("tsx").cast("double") * F.col("tsx") / tn
    sxy_c = F.col("tsxy") - F.col("tsx").cast("double") * F.col("tsy") / tn
    slope = sxy_c / ssx
    intercept = (F.col("tsy") - slope * F.col("tsx")) / tn
    beta = (
        trail.filter((tn >= 2) & (ssx != 0))
        .select(
            "day",
            tn.cast("long").alias("n_train"),
            slope.alias("slope"),
            intercept.alias("intercept"),
        )
    )
    return daily.join(F.broadcast(beta), "day").select(
        "day",
        "user_id",
        F.round("slope", 6).alias("slope"),
        F.round((F.col("intercept") + F.col("slope") * F.col("x")) / 100.0, 6).alias(
            "signal_hat"
        ),
        "n_train",
    )


# --------------------------------------------------------------------------
# A14: Mann-Whitney U via distributed average ranks
# --------------------------------------------------------------------------

_GROUP_A, _GROUP_B = "click", "error"

_MWU_ORACLE = f"""
WITH s AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{_GROUP_A}', '{_GROUP_B}')),
r AS (
  SELECT event_type,
         rank() OVER (ORDER BY value)
           + (count(*) OVER (PARTITION BY value) - 1) / 2e0 AS avg_rank
  FROM s),
agg AS (
  SELECT
    sum(CASE WHEN event_type = '{_GROUP_A}' THEN avg_rank ELSE 0 END) AS r1,
    sum(CASE WHEN event_type = '{_GROUP_A}' THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN event_type = '{_GROUP_B}' THEN 1 ELSE 0 END) AS n2
  FROM r)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  round(r1 - n1 * (n1 + 1) / 2e0, 6) AS u_stat,
  round((r1 - n1 * (n1 + 1) / 2e0 - n1 * n2 / 2e0)
        / sqrt(n1 * n2 * (n1 + n2 + 1) / 12e0), 6) AS z_score
FROM agg
WHERE coalesce(n1, 0) > 0 AND coalesce(n2, 0) > 0
"""


@register("mann_whitney_u", oracle=_MWU_ORACLE)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: Mann-Whitney U between two classes' value distributions with
    normal approximation (no tie correction; spec pinned on both
    engines).

    Scale path (round-2 fix): no per-row global ordering anywhere.
    ``groupBy(value)`` first — the rank sum only needs per-distinct-value
    multiplicities — then exclusive prefix sums over the distinct-value
    frame via bucketed two-pass summation (functions/ranks.py). The
    average rank of a distinct value is ``cum_lj + (lj + 1)/2`` and
    ``R1 = Σ f1j · avg_rank_j``, which equals the per-row rank sum
    exactly (integer×half-integer doubles < 2^53 are exact)."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_GROUP_A, _GROUP_B)
    )
    dv = e.groupBy("value").agg(
        F.count(F.lit(1)).alias("lj"),
        F.sum(F.when(F.col("event_type") == _GROUP_A, 1).otherwise(0)).alias("f1"),
    )
    cum = bucketed_exclusive_cumsums(dv, "value", ["lj"])
    avg_rank = F.col("cum_lj") + (F.col("lj") + 1) / 2.0
    agg = cum.agg(
        F.sum(F.col("f1") * avg_rank).alias("r1"),
        F.sum("f1").alias("n1"),
        F.sum(F.col("lj") - F.col("f1")).alias("n2"),
    )
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u = r1 - n1 * (n1 + 1) / 2.0
    z = (u - n1 * n2 / 2.0) / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0)
    # degenerate-arm guard (round-6 fuzz): a U test with an empty arm
    # is undefined — both engines emit ZERO rows instead of an ANSI
    # divide-by-zero (Spark) vs inf (DuckDB) disagreement
    ok = (F.coalesce(n1, F.lit(0)) > 0) & (F.coalesce(n2, F.lit(0)) > 0)
    return agg.filter(ok).select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u, 6).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )


# --------------------------------------------------------------------------
# A14 (second half): Anderson-Darling k-sample test, Scholz-Stephens
# midrank A2akN — the statistic scipy.stats.anderson_ksamp returns
# (reference: direction_analysis.ipynb cells 75-80 calls anderson_ksamp
# alongside mannwhitneyu over direction groups).
# --------------------------------------------------------------------------

_AD_GROUPS = ("click", "error", "view")  # k = 3 samples

_AD_K = len(_AD_GROUPS)

_AD_SIGMA_SQL = """
sqrt(( ((4*g - 6)*(k - 1) + (10 - 6*g)*bigh) * pow(n_total, 3)
     + ((2*g - 4)*k*k + 8*h*k + (2*g - 14*h - 4)*bigh - 8*h + 4*g - 6)
       * pow(n_total, 2)
     + ((6*h + 2*g - 2)*k*k + (4*h - 4*g + 6)*k + (2*h - 6)*bigh + 4*h)
       * n_total
     + ((2*h + 6)*k*k - 4*h*k)
     ) / ((n_total - 1e0)*(n_total - 2e0)*(n_total - 3e0)))
"""

_AD_ORACLE = f"""
WITH s AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{_AD_GROUPS[0]}', '{_AD_GROUPS[1]}', '{_AD_GROUPS[2]}')),
dv AS (
  SELECT value, count(*) AS lj,
         sum(CASE WHEN event_type='{_AD_GROUPS[0]}' THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN event_type='{_AD_GROUPS[1]}' THEN 1 ELSE 0 END) AS f2,
         sum(CASE WHEN event_type='{_AD_GROUPS[2]}' THEN 1 ELSE 0 END) AS f3
  FROM s GROUP BY value),
cum AS (
  SELECT *,
    coalesce(sum(lj) OVER w, 0) AS cum_lj,
    coalesce(sum(f1) OVER w, 0) AS cum_f1,
    coalesce(sum(f2) OVER w, 0) AS cum_f2,
    coalesce(sum(f3) OVER w, 0) AS cum_f3
  FROM dv
  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
tot AS (SELECT sum(lj) AS n_total, sum(f1) AS n1, sum(f2) AS n2, sum(f3) AS n3
        FROM dv),
terms AS (
  SELECT
    sum( (lj/CAST(t.n_total AS DOUBLE))
         * pow(t.n_total*(cum_f1 + f1/2e0) - (cum_lj + lj/2e0)*t.n1, 2)
         / ((cum_lj + lj/2e0)*(t.n_total - cum_lj - lj/2e0)
            - t.n_total*lj/4e0) ) AS s1,
    sum( (lj/CAST(t.n_total AS DOUBLE))
         * pow(t.n_total*(cum_f2 + f2/2e0) - (cum_lj + lj/2e0)*t.n2, 2)
         / ((cum_lj + lj/2e0)*(t.n_total - cum_lj - lj/2e0)
            - t.n_total*lj/4e0) ) AS s2,
    sum( (lj/CAST(t.n_total AS DOUBLE))
         * pow(t.n_total*(cum_f3 + f3/2e0) - (cum_lj + lj/2e0)*t.n3, 2)
         / ((cum_lj + lj/2e0)*(t.n_total - cum_lj - lj/2e0)
            - t.n_total*lj/4e0) ) AS s3
  FROM cum, tot t),
idx AS (SELECT unnest(generate_series(
          1, CAST((SELECT n_total FROM tot) AS BIGINT) - 1)) AS i),
harm AS (SELECT i, sum(1e0/i) OVER (ORDER BY i) AS Hi FROM idx),
hg AS (
  SELECT max(Hi) AS h,
         sum(CASE WHEN i <= (SELECT n_total FROM tot) - 2
                  THEN ((SELECT max(Hi) FROM harm) - Hi)
                       / ((SELECT n_total FROM tot) - i) ELSE 0 END) AS g
  FROM harm),
fin AS (
  SELECT t.n_total, {_AD_K} AS k,
         (t.n_total - 1e0)/t.n_total
           * (x.s1/t.n1 + x.s2/t.n2 + x.s3/t.n3) AS a2akn,
         1e0/t.n1 + 1e0/t.n2 + 1e0/t.n3 AS bigh, hg.h AS h, hg.g AS g
  FROM terms x, tot t, hg
  WHERE coalesce(t.n1, 0) > 0 AND coalesce(t.n2, 0) > 0
    AND coalesce(t.n3, 0) > 0)
SELECT CAST(n_total AS BIGINT) AS n_total, k,
  round(a2akn, 6) AS a2akn,
  round({_AD_SIGMA_SQL}, 6) AS sigma,
  round((a2akn - (k - 1)) / {_AD_SIGMA_SQL}, 6) AS a2_std
FROM fin
"""


def _harmonic_constants(n_total: int) -> tuple[float, float]:
    """Scholz-Stephens variance constants h = H_{{N-1}} and
    g = Σ_{{i=1}}^{{N-2}} (h - H_i)/(N - i): functions of N only, O(N)
    driver-side (N is a collected scalar, not data). At 100 TB N sizes
    (>1e8) swap in the asymptotic expansions h ≈ ln N + γ and
    g ≈ π²/6 − (ln N + γ)/N-ish tail terms; at dissertation scale the
    exact loop is microseconds."""
    h = 0.0
    for j in range(1, n_total):
        h += 1.0 / j
    hi = 0.0
    g = 0.0
    for i in range(1, n_total - 1):
        hi += 1.0 / i
        g += (h - hi) / (n_total - i)
    return h, g


@register("anderson_ksamp", oracle=_AD_ORACLE)
def anderson_ksamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: k-sample Anderson-Darling test (midrank A2akN, the variant
    scipy.stats.anderson_ksamp computes) across three event-type
    groups, fully distributed.

    Same scale design as the round-2 Mann-Whitney rewrite: the ECDF
    terms only need per-distinct-value multiplicities and exclusive
    prefix counts, so ``groupBy(value)`` + bucketed two-pass cumsums
    (functions/ranks.py) replace any global ordering. The variance
    standardization constants depend only on N and come from an O(N)
    driver-side loop over a collected scalar (asymptotic swap for
    cluster-scale N documented in :func:`_harmonic_constants`)."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_AD_GROUPS)
    )
    dv = e.groupBy("value").agg(
        F.count(F.lit(1)).alias("lj"),
        *[
            F.sum(
                F.when(F.col("event_type") == grp, 1).otherwise(0)
            ).alias(f"f{i+1}")
            for i, grp in enumerate(_AD_GROUPS)
        ],
    )
    cum = bucketed_exclusive_cumsums(dv, "value", ["lj", "f1", "f2", "f3"])

    # group sizes: k-row collect (tiny, like the Gram k×k collects)
    sizes = {
        r["event_type"]: r["cnt"]
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = [int(sizes.get(grp, 0)) for grp in _AD_GROUPS]
    # degenerate-sample guard (round-6 fuzz): the k-sample statistic is
    # undefined with an empty sample — ZERO rows on both engines (the
    # oracle's fin CTE carries the matching WHERE) instead of a
    # KeyError here and a divide-by-zero there
    if min(n) == 0:
        return spark.createDataFrame(
            [],
            "n_total long, k int, a2akn double, sigma double, a2_std double",
        )
    n_total = sum(n)
    h, g = _harmonic_constants(n_total)

    lj = F.col("lj")
    bj = F.col("cum_lj") + lj / 2.0
    denom = bj * (n_total - bj) - n_total * lj / 4.0
    inner = [
        (
            (lj / F.lit(float(n_total)))
            * F.pow(
                n_total * (F.col(f"cum_f{i+1}") + F.col(f"f{i+1}") / 2.0)
                - bj * n[i],
                2,
            )
            / denom
        ).alias(f"inner{i+1}")
        for i in range(_AD_K)
    ]
    sums = cum.select(*inner).agg(
        *[F.sum(f"inner{i+1}").alias(f"s{i+1}") for i in range(_AD_K)]
    )
    a2akn = (
        F.lit((n_total - 1.0) / n_total)
        * sum(F.col(f"s{i+1}") / n[i] for i in range(_AD_K))
    )
    big_h = sum(1.0 / ni for ni in n)
    k = float(_AD_K)
    a = (4 * g - 6) * (k - 1) + (10 - 6 * g) * big_h
    b = (
        (2 * g - 4) * k**2 + 8 * h * k + (2 * g - 14 * h - 4) * big_h
        - 8 * h + 4 * g - 6
    )
    c = (
        (6 * h + 2 * g - 2) * k**2 + (4 * h - 4 * g + 6) * k
        + (2 * h - 6) * big_h + 4 * h
    )
    d = (2 * h + 6) * k**2 - 4 * h * k
    sigmasq = (a * n_total**3 + b * n_total**2 + c * n_total + d) / (
        (n_total - 1.0) * (n_total - 2.0) * (n_total - 3.0)
    )
    sigma = sigmasq**0.5
    return sums.select(
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(_AD_K).alias("k"),
        F.round(a2akn, 6).alias("a2akn"),
        F.round(F.lit(sigma), 6).alias("sigma"),
        F.round((a2akn - (k - 1)) / sigma, 6).alias("a2_std"),
    )


# --------------------------------------------------------------------------
# Distribution-test battery extension: two-sample Kolmogorov-Smirnov on
# the same distinct-value ECDF machinery (no reference equivalent; the
# engine's rank framework makes it one more aggregate).
# --------------------------------------------------------------------------

_KS_TERMS = 5  # truncated Kolmogorov series (identical on both engines)

_KS_SERIES_SQL = " + ".join(
    f"({'-' if j % 2 == 0 else ''}1) * exp(-2e0 * {j * j} * z * z)"
    for j in range(1, _KS_TERMS + 1)
)

_KS_ORACLE = f"""
WITH s AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{_GROUP_A}', '{_GROUP_B}')),
dv AS (
  SELECT value,
         sum(CASE WHEN event_type='{_GROUP_A}' THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN event_type='{_GROUP_B}' THEN 1 ELSE 0 END) AS f2
  FROM s GROUP BY value),
cum AS (
  SELECT sum(f1) OVER w AS c1, sum(f2) OVER w AS c2 FROM dv
  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
tot AS (SELECT sum(f1) AS n1, sum(f2) AS n2 FROM dv),
agg AS (
  SELECT max(abs(c1/CAST(t.n1 AS DOUBLE) - c2/CAST(t.n2 AS DOUBLE))) AS d,
         any_value(t.n1) AS n1, any_value(t.n2) AS n2
  FROM cum, tot t),
zed AS (
  SELECT n1, n2, d,
         sqrt(n1 * CAST(n2 AS DOUBLE) / (n1 + n2)) * d AS z
  FROM agg
  WHERE coalesce(n1, 0) > 0 AND coalesce(n2, 0) > 0)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  round(d, 6) AS d_stat,
  round(z, 6) AS ks_z,
  round(2e0 * ({_KS_SERIES_SQL}), 6) AS p_asymp
FROM zed
"""


@register("ks_2samp", oracle=_KS_ORACLE)
def ks_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test, fully distributed: D = max |ECDF₁ − ECDF₂|
    over the pooled distinct values; inclusive cumulative counts from
    the same bucketed two-pass machinery as `anderson_ksamp` (no global
    sort), group totals via merged scalar subqueries; p-value from the
    truncated Kolmogorov series (identical truncation on both
    engines)."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_GROUP_A, _GROUP_B)
    )
    dv = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _GROUP_A, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("event_type") == _GROUP_B, 1).otherwise(0)).alias("f2"),
    )
    cum = bucketed_exclusive_cumsums(dv, "value", ["f1", "f2"])
    totals = dv.agg(F.sum("f1").alias("n1"), F.sum("f2").alias("n2"))
    c1 = (F.col("cum_f1") + F.col("f1")) / F.col("n1").cast("double")
    c2 = (F.col("cum_f2") + F.col("f2")) / F.col("n2").cast("double")
    # degenerate-arm guard (round-6 fuzz): zero rows, not an ANSI
    # divide-by-zero, when either sample is empty (oracle matched)
    agg = (
        cum.transform(with_scalars, totals)
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(F.abs(c1 - c2).alias("gap"), "n1", "n2")
        .groupBy("n1", "n2")
        .agg(F.max("gap").alias("d"))
    )
    z = (
        F.sqrt(F.col("n1") * F.col("n2").cast("double") / (F.col("n1") + F.col("n2")))
        * F.col("d")
    )
    series = None
    for j in range(1, _KS_TERMS + 1):
        term = F.lit(float((-1) ** (j - 1))) * F.exp(
            F.lit(-2.0 * j * j) * F.col("z") * F.col("z")
        )
        series = term if series is None else series + term
    return (
        agg.withColumn("z", z)
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round("d", 6).alias("d_stat"),
            F.round("z", 6).alias("ks_z"),
            F.round(2.0 * series, 6).alias("p_asymp"),
        )
    )


# --------------------------------------------------------------------------
# M8 multi-feature rolling refit: y ~ x + momentum + 1, exact Gram path
# --------------------------------------------------------------------------

# Cramer formulas shared verbatim with the ols2_gram kernel: the stats
# frame exposes columns a..r (Gram upper triangle + moments) and both
# engines evaluate the SAME strings.
from dissertation_iceberg_spark.queries.regression import _BETA  # noqa: E402

MOM_DAYS = 3

_MGRAM_COLS = {
    "a": "txx", "b": "txm", "c": "tx", "d": "tmm", "e2": "tm",
    "f": "tn", "p": "txy", "q": "tmy", "r": "ty",
}

_MULTI_SQL_STATS = """
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events GROUP BY 1, 2),
dm AS (
  SELECT *, sum(x) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN {mom} PRECEDING AND 1 PRECEDING) AS m,
         lead(x) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily),
rows_ok AS (SELECT * FROM dm WHERE m IS NOT NULL AND y IS NOT NULL),
day_gram AS (
  SELECT day, count(*) AS n,
         sum(x * x) AS sxx, sum(x * m) AS sxm, sum(x) AS sx,
         sum(m * m) AS smm, sum(m) AS sm,
         sum(x * y) AS sxy, sum(m * y) AS smy, sum(y) AS sy
  FROM rows_ok GROUP BY day),
trail AS (
  SELECT day,
         CAST(sum(n)   OVER w AS DOUBLE) AS tn,
         CAST(sum(sxx) OVER w AS DOUBLE) AS txx,
         CAST(sum(sxm) OVER w AS DOUBLE) AS txm,
         CAST(sum(sx)  OVER w AS DOUBLE) AS tx,
         CAST(sum(smm) OVER w AS DOUBLE) AS tmm,
         CAST(sum(sm)  OVER w AS DOUBLE) AS tm,
         CAST(sum(sxy) OVER w AS DOUBLE) AS txy,
         CAST(sum(smy) OVER w AS DOUBLE) AS tmy,
         CAST(sum(sy)  OVER w AS DOUBLE) AS ty
  FROM day_gram
  WINDOW w AS (ORDER BY day ROWS BETWEEN {train} PRECEDING AND 1 PRECEDING))
""".format(mom=MOM_DAYS, train=TRAIN_DAYS)


def _multi_oracle() -> str:
    renames = ", ".join(f"{src} AS {dst}" for dst, src in _MGRAM_COLS.items())
    betas = ", ".join(f"{expr} AS {k}" for k, expr in _BETA.items())
    det = "(a*(d*f - e2*e2) - b*(b*f - e2*c) + c*(b*e2 - d*c))"
    return f"""
WITH {_MULTI_SQL_STATS},
g AS (SELECT day, {renames} FROM trail WHERE tn >= 4),
s AS (SELECT *, {betas} FROM g WHERE {det} <> 0)
SELECT d.day, d.user_id,
       round(s.beta1, 6) AS beta_x,
       round(s.beta2, 6) AS beta_mom,
       round((s.intercept + s.beta1 * d.x + s.beta2 * d.m) / 1e2, 6)
           AS signal_hat,
       CAST(s.f AS BIGINT) AS n_train
FROM (SELECT user_id, day, x, m FROM dm WHERE m IS NOT NULL) d
JOIN s ON d.day = s.day
"""


@register("rolling_refit_multi", oracle=_multi_oracle())
def rolling_refit_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 with the reference's momentum control (A19): per-day refit of
    y ~ x + momentum + 1 over the trailing window — per-day Gram sums
    (integer-exact), trailing window sums, shared Cramer formula
    strings. One aggregation + one window; zero iteration. Long-sum
    headroom: |Σ trailing x·y| < ~2e18 at sf0.1 (5× margin); beyond
    that, scale to DECIMAL(38) sums."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(round_long(F.col("value") * 100)).alias("x"))
    wl = Window.partitionBy("user_id").orderBy("day")
    dm = daily.withColumn(
        "m", F.sum("x").over(wl.rowsBetween(-MOM_DAYS, -1))
    ).withColumn("y", F.lead("x", 1).over(wl))
    rows_ok = dm.filter(F.col("m").isNotNull() & F.col("y").isNotNull())
    x, m_, y = F.col("x"), F.col("m"), F.col("y")
    day_gram = rows_ok.groupBy("day").agg(
        *moment_sums(x, y),
        F.sum(x * m_).alias("sxm"), F.sum(m_ * m_).alias("smm"),
        F.sum(m_).alias("sm"), F.sum(m_ * y).alias("smy"),
    )
    wt = Window.orderBy("day").rowsBetween(-TRAIN_DAYS, -1)
    trail = day_gram.select(
        "day",
        *[
            F.sum(src_col).over(wt).cast("double").alias(dst)
            for dst, src_col in [
                ("tn", "n"), ("txx", "sxx"), ("txm", "sxm"), ("tx", "sx"),
                ("tmm", "smm"), ("tm", "sm"), ("txy", "sxy"),
                ("tmy", "smy"), ("ty", "sy"),
            ]
        ],
    )
    g = trail.filter(F.col("tn") >= 4).select(
        "day", *[F.col(src).alias(dst) for dst, src in _MGRAM_COLS.items()]
    )
    det = "(a*(d*f - e2*e2) - b*(b*f - e2*c) + c*(b*e2 - d*c))"
    s = g.filter(F.expr(det) != 0).select(
        "day", *[F.expr(expr).alias(k) for k, expr in _BETA.items()], F.col("f")
    )
    d = dm.filter(F.col("m").isNotNull()).select("user_id", "day", "x", "m")
    return d.join(F.broadcast(s), "day").select(
        "day",
        "user_id",
        F.round("beta1", 6).alias("beta_x"),
        F.round("beta2", 6).alias("beta_mom"),
        F.round(
            (F.col("intercept") + F.col("beta1") * F.col("x")
             + F.col("beta2") * F.col("m")) / F.lit(1e2),
            6,
        ).alias("signal_hat"),
        F.col("f").cast("long").alias("n_train"),
    )


# --------------------------------------------------------------------------
# A14 stratified: per-day Mann-Whitney U (no global sort)
# --------------------------------------------------------------------------

_MWU_STRAT_ORACLE = f"""
WITH s AS (
  SELECT date_trunc('day', ts) AS day, value, event_type FROM events
  WHERE event_type IN ('{_GROUP_A}', '{_GROUP_B}')),
r AS (
  SELECT day, event_type,
         rank() OVER (PARTITION BY day ORDER BY value)
           + (count(*) OVER (PARTITION BY day, value) - 1) / 2e0 AS avg_rank
  FROM s),
agg AS (
  SELECT day,
    sum(CASE WHEN event_type = '{_GROUP_A}' THEN avg_rank ELSE 0 END) AS r1,
    sum(CASE WHEN event_type = '{_GROUP_A}' THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN event_type = '{_GROUP_B}' THEN 1 ELSE 0 END) AS n2
  FROM r GROUP BY day)
SELECT day, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  round(r1 - n1 * (n1 + 1) / 2e0, 6) AS u_stat,
  round((r1 - n1 * (n1 + 1) / 2e0 - n1 * n2 / 2e0)
        / sqrt(n1 * n2 * (n1 + n2 + 1) / 12e0), 6) AS z_score
FROM agg WHERE n1 > 0 AND n2 > 0
"""


@register("mann_whitney_u_stratified", oracle=_MWU_STRAT_ORACLE)
def mann_whitney_u_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 at scale: per-stratum (per-day) U statistics — the rank sort
    partitions by day, so no operator ever needs a global ordering
    (the scale fix promised in SCALE.md)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_GROUP_A, _GROUP_B)
    ).withColumn("day", F.date_trunc("day", F.col("ts")))
    avg_rank = (
        F.rank().over(Window.partitionBy("day").orderBy("value"))
        + (F.count(F.lit(1)).over(Window.partitionBy("day", "value")) - 1) / 2.0
    )
    r = e.select("day", "event_type", avg_rank.alias("avg_rank"))
    agg = r.groupBy("day").agg(
        F.sum(
            F.when(F.col("event_type") == _GROUP_A, F.col("avg_rank")).otherwise(0.0)
        ).alias("r1"),
        F.sum(F.when(F.col("event_type") == _GROUP_A, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == _GROUP_B, 1).otherwise(0)).alias("n2"),
    )
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u = r1 - n1 * (n1 + 1) / 2.0
    z = (u - n1 * n2 / 2.0) / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0)
    return agg.filter((n1 > 0) & (n2 > 0)).select(
        "day",
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u, 6).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )
