"""Remaining §2 scalar/stat operators: weighted OI, standardization,
inf/NaN scrub, bucketization, seasonality with month key, regression
diagnostics (A23), ClOp regression.

Weighted OI uses exact integer scaling end-to-end: with p = k/100 the
weight (1−2p) is (100−2k)/100, so Σ size·(1−2p) is an integer sum —
bit-identical across engines without rounding tricks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.operators.regression import (
    centred_comoment,
    moment_sums,
)
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

DELTA = 21_600

# --------------------------------------------------------------------------
# A1 weighted OI: Σ(size·(1−2·pred_prob)) / Σ size
# --------------------------------------------------------------------------

_WOI_ORACLE = f"""
WITH e AS (
  SELECT *, CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(json_extract(props, '$.k') AS BIGINT) % 100 AS k
  FROM events)
SELECT {bin_end_sql("ts", DELTA)} AS bin,
       round(CAST(sum(cents * (100 - 2 * k)) AS DOUBLE)
             / (100 * sum(cents)), 6) AS weighted_oi,
       count(*) AS n
FROM e GROUP BY 1
"""


@register("weighted_oi", oracle=_WOI_ORACLE)
def weighted_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 weighted variant (order_imbalance.py:242-249): probability-
    weighted imbalance with pred_prob = (props.k % 100)/100 — integer
    arithmetic end-to-end."""
    e = load_table(spark, sf_dir, "events")
    cents = round_long(F.col("value") * 100)
    k = (F.get_json_object("props", "$.k").cast("long")) % 100
    e = e.withColumn("cents", cents).withColumn("k", k)
    return (
        e.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            F.round(
                F.sum(F.col("cents") * (100 - 2 * F.col("k"))).cast("double")
                / (100 * F.sum("cents")),
                6,
            ).alias("weighted_oi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# M1 standardization: z-score within group
# --------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY 1)
SELECT e.event_id,
       round(CASE WHEN s.sd <> 0 THEN (e.value - s.mu) / s.sd END, 6)
         AS z_value
FROM events e JOIN s ON e.event_type = s.event_type
"""


@register("zscore", oracle=_ZSCORE_ORACLE)
def zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 standardize (prediction_ML_pipeline.py:222-224): broadcast the
    per-group moments back onto rows (no window over raw events).

    Degenerate guard (round-7 tiny fuzz): a zero-variance group (two
    identical values) leaves the z-score undefined — NULL on both
    engines instead of an ANSI divide-by-zero; an n = 1 group already
    yields NULL via the NULL sample stddev."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = F.when(
        F.col("sd") != 0, (F.col("value") - F.col("mu")) / F.col("sd")
    )
    return e.join(F.broadcast(s), "event_type").select(
        "event_id", F.round(z, 6).alias("z_value")
    )


# --------------------------------------------------------------------------
# P10 inf/NaN scrub
# --------------------------------------------------------------------------

_SCRUB_ORACLE = """
WITH x AS (
  SELECT event_id,
         CASE WHEN user_id > 10 THEN CAST('Infinity' AS DOUBLE) ELSE value END
             AS maybe_inf,
         CASE WHEN user_id > 5 THEN CAST('NaN' AS DOUBLE) ELSE value END
             AS maybe_nan
  FROM events)
SELECT event_id,
  round(CASE WHEN isinf(maybe_inf) OR isnan(maybe_inf) OR maybe_inf IS NULL
        THEN 0 ELSE maybe_inf END, 6) AS scrubbed_inf,
  round(CASE WHEN isinf(maybe_nan) OR isnan(maybe_nan) OR maybe_nan IS NULL
        THEN 0 ELSE maybe_nan END, 6) AS scrubbed_nan
FROM x
"""


@register("nan_scrub", oracle=_SCRUB_ORACLE)
def nan_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 (chunk_pipeline.py:212-213): fillna(0) + replace(±inf, 0) as
    a reusable when() scrub."""
    e = load_table(spark, sf_dir, "events")

    def scrub(c):
        return F.round(
            F.when(c.isNull() | F.isnan(c) | (F.abs(c) == float("inf")), 0.0).otherwise(
                c
            ),
            6,
        )

    maybe_inf = F.when(F.col("user_id") > 10, F.lit(float("inf"))).otherwise(
        F.col("value")
    )
    maybe_nan = F.when(F.col("user_id") > 5, F.lit(float("nan"))).otherwise(
        F.col("value")
    )
    return e.select(
        "event_id",
        scrub(maybe_inf).alias("scrubbed_inf"),
        scrub(maybe_nan).alias("scrubbed_nan"),
    )


# --------------------------------------------------------------------------
# §2.8 pd.cut bucketization
# --------------------------------------------------------------------------

_BUCKET_ORACLE = """
SELECT event_id,
  CASE WHEN value < 50 THEN 'low'
       WHEN value < 100 THEN 'mid'
       WHEN value < 150 THEN 'high'
       ELSE 'extreme' END AS bucket
FROM events
"""


@register("value_buckets", oracle=_BUCKET_ORACLE)
def value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.cut ladder (direction_analysis.ipynb cell 56) as chained
    when() — Bucketizer-equivalent, codegen-friendly."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return e.select(
        "event_id",
        F.when(v < 50, "low")
        .when(v < 100, "mid")
        .when(v < 150, "high")
        .otherwise("extreme")
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# A6 seasonality with month key
# --------------------------------------------------------------------------

_SEASON2_ORACLE = """
SELECT CAST(extract(month FROM ts) AS BIGINT) AS month,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       count(*) AS n,
       round(avg(value), 6) AS mean_value,
       round(stddev_samp(value), 6) AS std_value
FROM events GROUP BY 1, 2
"""


@register("seasonality_month_hour", oracle=_SEASON2_ORACLE)
def seasonality_month_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 with the optional month key (EDA_initial.ipynb cell 7)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.month("ts").cast("long").alias("month"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
    )


# --------------------------------------------------------------------------
# A23 regression diagnostics: residual, leverage, studentized, Cook's D
# --------------------------------------------------------------------------

_DIAG_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(user_id AS DOUBLE)) AS sx, sum(value) AS sy,
         sum(CAST(user_id AS DOUBLE) * value) AS sxy,
         sum(CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE)) AS sxx,
         sum(value * value) AS syy
  FROM events GROUP BY 1),
b AS (
  SELECT *,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
         (sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n AS intercept,
         (sxx - sx * sx / n) AS ssx,
         ((syy - sy * sy / n)
          - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sxy - sx * sy / n))
             / (n - 2) AS s2
  FROM g WHERE n > 2 AND (sxx - sx * sx / n) <> 0)
SELECT e.event_id,
  round(e.value - (b.intercept + b.slope * e.user_id), 6) AS residual,
  round(1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx, 6) AS leverage,
  round(CASE WHEN b.s2 * (1 - (1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx)) > 0
        THEN (e.value - (b.intercept + b.slope * e.user_id))
        / sqrt(b.s2 * (1 - (1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx))) END, 6)
      AS studentized,
  round(CASE WHEN b.s2 * pow(1 - (1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx), 2) > 0
        THEN pow(e.value - (b.intercept + b.slope * e.user_id), 2)
        * (1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx)
        / (2 * b.s2 * pow(1 - (1e0 / b.n + pow(e.user_id - b.sx / b.n, 2) / b.ssx), 2)) END, 6)
      AS cooks_d
FROM events e JOIN b ON e.event_type = b.event_type
"""


@register("ols_diagnostics", oracle=_DIAG_ORACLE)
def ols_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 (order_imbalance.py:603-670): per-row residual, leverage
    (hat diagonal), internally-studentized residual, Cook's distance —
    the per-group (XᵀX)⁻¹ pieces broadcast back onto rows as plain
    expressions (no per-row matrix math)."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("user_id").cast("double")
    y = F.col("value")
    g = e.groupBy("event_type").agg(*moment_sums(x, y))
    n = F.col("n")
    ssx = centred_comoment("n", "sxx", "sx", "sx")
    sxy_c = centred_comoment("n", "sxy", "sx", "sy")
    slope = sxy_c / ssx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    s2 = (centred_comoment("n", "syy", "sy", "sy") - slope * sxy_c) / (n - 2)
    # degenerate-group guard (round-7 one_ticker fuzz): constant x or
    # n <= 2 leaves the fit undefined — those groups' rows emit ZERO
    # rows on both engines; s2/leverage edge cases NULL the studentized
    # and Cook's columns instead of dividing by zero
    b = g.filter((n > 2) & (ssx != 0)).select(
        "event_type", "n", "sx", slope.alias("slope"),
        intercept.alias("intercept"), ssx.alias("ssx"), s2.alias("s2"),
    )
    j = e.join(F.broadcast(b), "event_type")
    resid = F.col("value") - (F.col("intercept") + F.col("slope") * F.col("user_id"))
    lev = 1.0 / F.col("n") + F.pow(
        F.col("user_id") - F.col("sx") / F.col("n"), 2
    ) / F.col("ssx")
    stud = F.when(
        F.col("s2") * (1 - lev) > 0, resid / F.sqrt(F.col("s2") * (1 - lev))
    )
    cooks = F.when(
        F.col("s2") * F.pow(1 - lev, 2) > 0,
        F.pow(resid, 2) * lev / (2 * F.col("s2") * F.pow(1 - lev, 2)),
    )
    return j.select(
        "event_id",
        F.round(resid, 6).alias("residual"),
        F.round(lev, 6).alias("leverage"),
        F.round(stud, 6).alias("studentized"),
        F.round(cooks, 6).alias("cooks_d"),
    )


# --------------------------------------------------------------------------
# ClOp regression (A20 applied to close-to-open returns)
# --------------------------------------------------------------------------

_CLOP_REG_ORACLE = """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         min_by(value, event_id) AS open_px,
         max_by(value, event_id) AS close_px
  FROM events GROUP BY 1, 2),
r AS (
  SELECT CASE WHEN close_px > 0 AND lead(open_px) OVER wd > 0
         THEN ln(lead(open_px) OVER wd / close_px) END AS clop_ret,
         CASE WHEN open_px > 0 AND close_px > 0
              THEN ln(close_px / open_px) END AS intraday_ret
  FROM d
  WINDOW wd AS (PARTITION BY user_id ORDER BY day)),
g AS (
  SELECT count(*) AS n, sum(intraday_ret) AS sx, sum(clop_ret) AS sy,
         sum(intraday_ret * clop_ret) AS sxy,
         sum(intraday_ret * intraday_ret) AS sxx,
         sum(clop_ret * clop_ret) AS syy
  FROM r WHERE clop_ret IS NOT NULL AND intraday_ret IS NOT NULL)
SELECT n,
  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
  round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6) AS intercept,
  round((sxy - sx * sy / n) * (sxy - sx * sy / n)
        / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
FROM g
"""


@register("clop_regression", oracle=_CLOP_REG_ORACLE)
def clop_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20/ClOp_calc.py:25-57: regress close-to-open returns on the
    prior intraday return — daily OLS on the aggregated frame."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.expr("min_by(value, event_id)").alias("open_px"),
        F.expr("max_by(value, event_id)").alias("close_px"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    nxt_open = F.lead("open_px", 1).over(w)
    r = d.select(
        F.when(
            (F.col("close_px") > 0) & (nxt_open > 0),
            F.log(nxt_open / F.col("close_px")),
        ).alias("clop_ret"),
        F.when(
            (F.col("open_px") > 0) & (F.col("close_px") > 0),
            F.log(F.col("close_px") / F.col("open_px")),
        ).alias("intraday_ret"),
    ).filter(F.col("clop_ret").isNotNull() & F.col("intraday_ret").isNotNull())
    x, y = F.col("intraday_ret"), F.col("clop_ret")
    g = r.agg(*moment_sums(x, y))
    n = F.col("n")
    ssx = centred_comoment("n", "sxx", "sx", "sx")
    sxy_c = centred_comoment("n", "sxy", "sx", "sy")
    ssy = centred_comoment("n", "syy", "sy", "sy")
    slope = sxy_c / ssx
    return g.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(sxy_c * sxy_c / (ssx * ssy), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# M9 heuristic direction override (direction_analysis.ipynb cells 41-49)
# --------------------------------------------------------------------------

_HEUR_ORACLE = """
WITH hid AS (
  SELECT event_id, user_id, date_trunc('minute', ts) AS minute_ts
  FROM events WHERE event_type = 'error'),
vis AS (
  SELECT user_id, date_trunc('minute', ts) AS minute_ts,
         min_by(CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END, event_id)
             AS vis_dir
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2)
SELECT h.event_id,
       CAST(coalesce(v.vis_dir, 0) AS BIGINT) AS pred_dir,
       CAST(CASE WHEN v.vis_dir IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS overridden
FROM hid h LEFT JOIN vis v
  ON h.user_id = v.user_id AND h.minute_ts = v.minute_ts
"""


@register("heuristic_direction_override", oracle=_HEUR_ORACLE)
def heuristic_direction_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: hidden executions co-occurring (same key, same minute) with a
    visible trade take that trade's direction — equi-join on the
    truncated timestamp + when() override
    (direction_analysis.ipynb cells 41-49)."""
    e = load_table(spark, sf_dir, "events")
    direction = F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    hid = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.date_trunc("minute", F.col("ts")).alias("minute_ts")
    )
    vis = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("dir", direction)
        .groupBy("user_id", F.date_trunc("minute", F.col("ts")).alias("minute_ts"))
        .agg(F.expr("min_by(dir, event_id)").alias("vis_dir"))
    )
    return hid.join(vis, ["user_id", "minute_ts"], "left").select(
        "event_id",
        F.coalesce(F.col("vis_dir"), F.lit(0)).cast("long").alias("pred_dir"),
        F.col("vis_dir").isNotNull().cast("long").alias("overridden"),
    )


# --------------------------------------------------------------------------
# O5 categorical-order result sort (array_position over a timeframe dim)
# --------------------------------------------------------------------------

_TF_ORDER = "array(900, 3600, 21600)"

_TF_ORACLE = f"""
WITH lob AS (SELECT *, CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS direction,
             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
per AS (
  SELECT CAST(900 AS BIGINT) AS delta_sec, count(*) AS n_rows FROM lob
  UNION ALL SELECT 3600, count(*) FROM lob
  UNION ALL SELECT 21600, count(*) FROM lob)
SELECT delta_sec, n_rows,
       CAST(array_position([900, 3600, 21600], delta_sec) AS BIGINT) AS tf_order
FROM per ORDER BY tf_order
"""


@register("timeframe_ordered", oracle=_TF_ORACLE)
def timeframe_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: categorical timeframe ordering via array_position (the
    reference sorts result tables by a categorical timeframe column,
    regression_table.ipynb cells 5-6)."""
    e = load_table(spark, sf_dir, "events")
    n = e.count()  # driver-side scalar: row count only
    rows = [(d, n) for d in (900, 3600, 21600)]
    per = spark.createDataFrame(rows, "delta_sec LONG, n_rows LONG")
    return per.select(
        "delta_sec",
        "n_rows",
        F.expr(f"CAST(array_position({_TF_ORDER}, delta_sec) AS LONG)").alias(
            "tf_order"
        ),
    ).orderBy("tf_order")


# --------------------------------------------------------------------------
# Table profiler (round 3): per-column stats battery in ONE scan
# --------------------------------------------------------------------------

_PROF_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _prof_oracle() -> str:
    aggs = ["count(*) AS n_rows"]
    for c in _PROF_COLS:
        aggs += [
            f"count({c}) AS {c}_nn",
            f"count(DISTINCT {c}) AS {c}_nd",
            f"min({c}) AS {c}_min",
            f"max({c}) AS {c}_max",
            f"CAST(sum(CAST(round({c} * 1e6) AS BIGINT)) AS BIGINT) AS {c}_sum",
        ]
    arms = [
        f"""SELECT '{c}' AS col_name,
       CAST(n_rows AS BIGINT) AS n,
       CAST(n_rows - {c}_nn AS BIGINT) AS n_null,
       CAST({c}_nd AS BIGINT) AS n_distinct,
       {c}_min AS vmin, {c}_max AS vmax,
       round(CAST({c}_sum AS DOUBLE) / 1e6 / {c}_nn, 6) AS vmean
FROM a"""
        for c in _PROF_COLS
    ]
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM lineitem)\n" + "\nUNION ALL\n".join(arms)


@register("table_profile", oracle=_prof_oracle())
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling battery: per numeric column of lineitem — row
    count, null count, exact distinct count, min/max, and an exact
    integer-scaled mean — the first query any pipeline runs against an
    unknown 100 TB table.

    ONE scan: every statistic for every column rides a single
    aggregate (Spark plans the multi-column count(DISTINCT) set via
    one Expand + two-phase aggregate — still a single pass over the
    data, shuffling O(distinct values) per column, never rows). The
    wide 1-row result is unpivoted to long form driver-side-free via
    per-column projections of the same broadcast row. Means are summed
    as 1e-6-unit BIGINTs, so the cross-engine value is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROF_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.countDistinct(c).alias(f"{c}_nd"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(round_long(F.col(c) * 1e6)).alias(f"{c}_sum"),
        ]
    a = li.agg(*aggs)
    arms = []
    for c in _PROF_COLS:
        arms.append(
            a.select(
                F.lit(c).alias("col_name"),
                F.col("n_rows").cast("long").alias("n"),
                (F.col("n_rows") - F.col(f"{c}_nn")).cast("long").alias("n_null"),
                F.col(f"{c}_nd").cast("long").alias("n_distinct"),
                F.col(f"{c}_min").alias("vmin"),
                F.col(f"{c}_max").alias("vmax"),
                F.round(
                    F.col(f"{c}_sum").cast("double") / 1e6 / F.col(f"{c}_nn"), 6
                ).alias("vmean"),
            )
        )
    out = arms[0]
    for r in arms[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Shuffle-skew profiler (round 3): hot-key diagnosis before a join
# --------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH counts AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY 1),
stats AS (
  SELECT count(*) AS n_keys, max(c) AS max_c,
         CAST(sum(c) AS BIGINT) AS n_rows
  FROM counts),
dist AS (SELECT c, count(*) AS f FROM counts GROUP BY 1),
cum AS (
  SELECT c, sum(f) OVER (ORDER BY c) AS cum FROM dist),
med AS (
  SELECT min(c) AS median_c FROM cum, stats
  WHERE cum >= (stats.n_keys + 1) // 2)
SELECT CAST(stats.n_keys AS BIGINT) AS n_keys,
       CAST(stats.n_rows AS BIGINT) AS n_rows,
       CAST(stats.max_c AS BIGINT) AS max_key_rows,
       CAST(med.median_c AS BIGINT) AS median_key_rows,
       round(CAST(stats.max_c AS DOUBLE) / med.median_c, 6) AS skew_ratio
FROM stats, med
"""


@register("skew_profile", oracle=_SKEW_ORACLE)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew profiler for a prospective join/agg key: per-key
    row counts -> exact max and exact MEDIAN key weight -> skew ratio.
    The number that decides, before launching a 100 TB join, whether
    the key needs salting or AQE skew-split (ratio near 1 = balanced;
    orders of magnitude = a hot key will straggle).

    Scale shape: the per-key count is one map-side-combinable
    aggregate; the median is NOT a global sort over keys — key counts
    are grouped into their value DISTRIBUTION first (distinct count
    values are bounded — long-tail corpora have millions of keys but
    few distinct per-key counts), and the median is read off a tiny
    cumulative window over that distribution."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_c"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    dist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("f"))
    from pyspark.sql import Window as W

    cum = dist.select(
        "c", F.sum("f").over(W.orderBy("c").rowsBetween(W.unboundedPreceding, 0)).alias("cum")
    )
    med = (
        cum.transform(with_scalars, stats)
        .filter(F.col("cum") >= F.expr("(n_keys + 1) DIV 2"))
        .agg(F.min("c").alias("median_c"))
    )
    return (
        stats.transform(with_scalars, med)
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("max_c").cast("long").alias("max_key_rows"),
            F.col("median_c").cast("long").alias("median_key_rows"),
            F.round(
                F.col("max_c").cast("double") / F.col("median_c"), 6
            ).alias("skew_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (fraud / synthetic-data smell test)
# --------------------------------------------------------------------------

import math as _math

_BENFORD_EXP = {d: round(_math.log10(1 + 1 / d), 6) for d in range(1, 10)}

_BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT c.digit, CAST(c.n AS BIGINT) AS n_orders,
       round(CAST(c.n AS DOUBLE) / t.total, 6) AS obs_freq,
       CAST(CASE c.digit
         {" ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_EXP.items())}
       END AS DOUBLE) AS benford_freq
FROM c, t
"""


@register("benford_digit_audit", oracle=_BENFORD_ORACLE)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic data-quality screen: naturally occurring multiplicative
    amounts follow P(d) = log10(1 + 1/d); fabricated or uniformly
    synthesized values do not (the driver's synthetic prices indeed
    deviate — that's the signal a generator audit wants). Output:
    observed vs Benford frequency per leading digit.

    Determinism: the leading digit comes from the DECIMAL STRING of
    exact integer cents — never floor(log10(x)) whose half-ulp at
    powers of ten flips digits between libms. Expected frequencies are
    Python-computed literals injected into both engines; the one
    display division per digit divides identical exact integers.

    Scale shape: one scan, map-side-combinable 9-group count, 1-row
    total broadcast. Nothing else."""
    ords = load_table(spark, sf_dir, "orders")
    d = ords.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            round_long(F.col("o_totalprice") * 100).cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    exp = F.element_at(
        F.array(*[F.lit(_BENFORD_EXP[dd]) for dd in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    return c.transform(with_scalars, t).select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("obs_freq"),
        exp.alias("benford_freq"),
    )


# --------------------------------------------------------------------------
# EWMA over the hourly series: integer fold, recursive-CTE oracle
# --------------------------------------------------------------------------

_EWMA_A_NUM = 200  # alpha = 0.2 as 200/1000
_EWMA_DEN = 1000

_EWMA_ORACLE = f"""
WITH RECURSIVE h AS (
  SELECT date_trunc('hour', ts) AS bin,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
idx AS (
  SELECT bin, cents,
         row_number() OVER (ORDER BY bin) AS i
  FROM h),
rec AS (
  SELECT i, bin, cents, cents AS y FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.i, idx.bin, idx.cents,
         ({_EWMA_A_NUM} * idx.cents + {_EWMA_DEN - _EWMA_A_NUM} * rec.y)
           // {_EWMA_DEN}
  FROM idx JOIN rec ON idx.i = rec.i + 1)
SELECT bin, cents, CAST(y AS BIGINT) AS ewma_cents
FROM rec
"""


@register("ewma_hourly_value", oracle=_EWMA_ORACLE)
def ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of hourly event value —
    the dashboard smoother every metrics pipeline carries. EWMA is
    inherently sequential (y_t = a·x_t + (1-a)·y_{t-1}), which is
    exactly why it belongs in the suite: the RIGHT distributed shape
    is fact-scale reduction FIRST (hourly integer-cents sums,
    map-side combinable), then the recurrence as an ordered fold over
    the O(bins) series — sequential work proportional to bins, never
    to rows. The fold is Spark's higher-order F.aggregate over the
    collected bin array (single tiny task); the oracle replays it as
    a recursive CTE.

    Determinism: the recurrence runs in exact integer cents with
    floor division each step (alpha = 200/1000) — no float state to
    drift, so both engines produce bit-identical series at any
    parallelism of the upstream aggregation.

    Scale: one scan + one O(bins) array fold. At 100 TB the hourly
    frame is still just 8,760 rows/year — the fold is driver-scale
    by construction; a per-key EWMA variant would partition the fold
    per key (same arithmetic inside groupBy.agg of sorted structs).
    """
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("bin")).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("cents")
    )
    series = h.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("bin"), F.col("cents")))
        ).alias("s")
    )
    def step(acc, x):
        # floor((a)/1000.0) == a div 1000 exactly for 0 <= a < 2^52:
        # double division is correctly rounded and the true quotient
        # k + r/1000 (r <= 999) can never round across the next integer
        prev = F.coalesce(F.try_element_at(acc, F.lit(-1)), x.getField("cents"))
        a = (
            F.lit(_EWMA_A_NUM) * x.getField("cents")
            + F.lit(_EWMA_DEN - _EWMA_A_NUM) * prev
        )
        y = F.floor(a / F.lit(float(_EWMA_DEN))).cast("long")
        return F.concat(acc, F.array(y))

    folded = series.select(
        F.posexplode(
            F.aggregate(
                "s", F.expr("CAST(array() AS ARRAY<BIGINT>)"), step
            ).alias("y")
        ).alias("pos0", "ewma_cents"),
        F.col("s"),
    )
    return folded.select(
        F.element_at("s", F.col("pos0") + 1).getField("bin").alias("bin"),
        F.element_at("s", F.col("pos0") + 1).getField("cents").alias("cents"),
        F.col("ewma_cents").cast("long").alias("ewma_cents"),
    )


# --------------------------------------------------------------------------
# Column profile: the per-column data-quality audit, long-form
# --------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_orderkey) AS BIGINT) AS nn_key,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_key,
         CAST(min(o_orderkey) AS BIGINT) AS min_key,
         CAST(max(o_orderkey) AS BIGINT) AS max_key,
         CAST(count(o_custkey) AS BIGINT) AS nn_cust,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
         CAST(min(o_custkey) AS BIGINT) AS min_cust,
         CAST(max(o_custkey) AS BIGINT) AS max_cust,
         CAST(count(o_totalprice) AS BIGINT) AS nn_price,
         CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
         CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_price,
         CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_price,
         CAST(count(o_orderstatus) AS BIGINT) AS nn_stat,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_stat
  FROM orders)
SELECT 'o_orderkey' AS col, n, nn_key AS n_nonnull, nd_key AS n_distinct,
       min_key AS min_i, max_key AS max_i FROM s
UNION ALL
SELECT 'o_custkey', n, nn_cust, nd_cust, min_cust, max_cust FROM s
UNION ALL
SELECT 'o_totalprice_cents', n, nn_price, nd_price, min_price, max_price FROM s
UNION ALL
SELECT 'o_orderstatus', n, nn_stat, nd_stat,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM s
"""


@register("orders_profile", oracle=_PROFILE_ORACLE)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form column profile of the orders table — row count,
    non-null count, exact distinct count, min/max per column — the
    audit every ingestion batch publishes (null-rate spikes and
    min/max excursions are the first schema-drift alarms). Long form
    (one row per column) so downstream alerting diffs profiles across
    batches by key, not by schema.

    Scale shape: ONE scan computes every per-column aggregate in a
    single Aggregate node (count/min/max are map-side combinable;
    the count(DISTINCT ...)s expand via Spark's standard expand-node
    rewrite — the documented cost of exact profiling; swap in the
    HLL sketch family (hll_distinct) when approximate is acceptable
    at 100 TB). The long-form pivot is a 1-row explode at the end."""
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("o_orderkey").cast("long").alias("nn_key"),
        F.count_distinct("o_orderkey").cast("long").alias("nd_key"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.count("o_custkey").cast("long").alias("nn_cust"),
        F.count_distinct("o_custkey").cast("long").alias("nd_cust"),
        F.min("o_custkey").cast("long").alias("min_cust"),
        F.max("o_custkey").cast("long").alias("max_cust"),
        F.count("o_totalprice").cast("long").alias("nn_price"),
        F.count_distinct("o_totalprice").cast("long").alias("nd_price"),
        F.min(F.round(F.col("o_totalprice") * 100)).cast("long").alias("min_price"),
        F.max(F.round(F.col("o_totalprice") * 100)).cast("long").alias("max_price"),
        F.count("o_orderstatus").cast("long").alias("nn_stat"),
        F.count_distinct("o_orderstatus").cast("long").alias("nd_stat"),
    )
    row = lambda col, nn, nd, mi, mx: F.struct(  # noqa: E731
        F.lit(col).alias("col"),
        F.col(nn).alias("n_nonnull"),
        F.col(nd).alias("n_distinct"),
        (F.col(mi) if mi else F.lit(None)).cast("long").alias("min_i"),
        (F.col(mx) if mx else F.lit(None)).cast("long").alias("max_i"),
    )
    return s.select(
        F.explode(
            F.array(
                row("o_orderkey", "nn_key", "nd_key", "min_key", "max_key"),
                row("o_custkey", "nn_cust", "nd_cust", "min_cust", "max_cust"),
                row(
                    "o_totalprice_cents",
                    "nn_price",
                    "nd_price",
                    "min_price",
                    "max_price",
                ),
                row("o_orderstatus", "nn_stat", "nd_stat", None, None),
            )
        ).alias("r"),
        "n",
    ).select(
        F.col("r.col").alias("col"),
        "n",
        F.col("r.n_nonnull").alias("n_nonnull"),
        F.col("r.n_distinct").alias("n_distinct"),
        F.col("r.min_i").alias("min_i"),
        F.col("r.max_i").alias("max_i"),
    )


# --------------------------------------------------------------------------
# Grouped EWMA: the per-key fold variant (partitioned, not driver-scale)
# --------------------------------------------------------------------------

_GEWMA_ORACLE = f"""
WITH RECURSIVE h AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, day, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM h),
rec AS (
  SELECT event_type, i, day, cents, cents AS y FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, idx.day, idx.cents,
         ({_EWMA_A_NUM} * idx.cents + {_EWMA_DEN - _EWMA_A_NUM} * rec.y)
           // {_EWMA_DEN}
  FROM idx JOIN rec
    ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
SELECT event_type, day, cents, CAST(y AS BIGINT) AS ewma_cents
FROM rec
"""


@register("ewma_daily_by_type", oracle=_GEWMA_ORACLE)
def ewma_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA (daily value smoothed within each event type) —
    the GROUPED form of ewma_hourly_value, delivering the claim in
    its docstring: the same exact-integer fold, but partitioned per
    key inside groupBy.agg, so a million keys fold in parallel with
    no single collection point anywhere. This is how per-entity
    smoothing (per ticker, per user segment, per model) actually runs
    at 100 TB: fact-scale reduction to (key, day) integer sums, then
    an O(days) fold per key.

    Determinism: identical integer recurrence (alpha 200/1000, floor
    division — the floor(a/1000.0) == a div 1000 proof in
    ewma_hourly_value applies); fold order fixed by array_sort on the
    (day, cents) struct."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("cents")
    )
    series = h.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("s")
    )

    def step(acc, x):
        prev = F.coalesce(F.try_element_at(acc, F.lit(-1)), x.getField("cents"))
        a = (
            F.lit(_EWMA_A_NUM) * x.getField("cents")
            + F.lit(_EWMA_DEN - _EWMA_A_NUM) * prev
        )
        return F.concat(acc, F.array(F.floor(a / F.lit(float(_EWMA_DEN))).cast("long")))

    folded = series.select(
        "event_type",
        "s",
        F.posexplode(
            F.aggregate("s", F.expr("CAST(array() AS ARRAY<BIGINT>)"), step)
        ).alias("pos0", "ewma_cents"),
    )
    return folded.select(
        "event_type",
        F.element_at("s", F.col("pos0") + 1).getField("day").alias("day"),
        F.element_at("s", F.col("pos0") + 1).getField("cents").alias("cents"),
        F.col("ewma_cents").cast("long").alias("ewma_cents"),
    )


# --------------------------------------------------------------------------
# CUSUM changepoint scan over the daily series (integer fold)
# --------------------------------------------------------------------------

_CUSUM_K_NUM = 50  # slack k = 0.05 * target, as 50/1000 of target
_CUSUM_DEN = 1000

_CUSUM_ORACLE = f"""
WITH RECURSIVE h AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
t AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS target FROM h),
idx AS (
  SELECT day, cents, row_number() OVER (ORDER BY day) AS i FROM h),
rec AS (
  SELECT i, day, cents,
         greatest(CAST(0 AS BIGINT),
           cents - t.target - (t.target * {_CUSUM_K_NUM}) // {_CUSUM_DEN})
           AS cpos,
         greatest(CAST(0 AS BIGINT),
           t.target - cents - (t.target * {_CUSUM_K_NUM}) // {_CUSUM_DEN})
           AS cneg
  FROM idx, t WHERE i = 1
  UNION ALL
  SELECT idx.i, idx.day, idx.cents,
         greatest(CAST(0 AS BIGINT),
           rec.cpos + idx.cents - t.target
             - (t.target * {_CUSUM_K_NUM}) // {_CUSUM_DEN}),
         greatest(CAST(0 AS BIGINT),
           rec.cneg + t.target - idx.cents
             - (t.target * {_CUSUM_K_NUM}) // {_CUSUM_DEN})
  FROM idx JOIN rec ON idx.i = rec.i + 1, t)
SELECT day, cents,
       CAST(cpos AS BIGINT) AS cusum_pos,
       CAST(cneg AS BIGINT) AS cusum_neg
FROM rec
"""


@register("cusum_changepoints", oracle=_CUSUM_ORACLE)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM scan over the daily value series — the
    classical sequential changepoint statistic (S⁺ accumulates
    excursions above target+slack, S⁻ below; a persistent level shift
    drives one side up linearly while noise resets to 0). Emitting
    the full trajectory (not just alarms) lets the consumer pick
    their own decision threshold h.

    The recurrence is sequential BY DEFINITION — the right
    distributed shape is the same as the EWMA family: fact-scale
    reduction to O(days) integer sums, then the fold over the tiny
    ordered frame (here via one per-row max(0, ...) chain replayed as
    a recursive CTE in the oracle; the Spark side folds the collected
    array). Target = global daily mean (integer floor), slack = 5%
    of target — all exact integers; no float enters the state.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("cents")
    )
    t = h.agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("target")
    )
    series = h.transform(with_scalars, t).groupBy("target").agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("s")
    )
    slack = F.expr(f"(target * {_CUSUM_K_NUM}) div {_CUSUM_DEN}")
    series = series.withColumn("slack", slack)

    def step(acc, x):
        prev_p = F.coalesce(
            F.try_element_at(acc, F.lit(-1)).getField("p"), F.lit(0).cast("long")
        )
        prev_n = F.coalesce(
            F.try_element_at(acc, F.lit(-1)).getField("n"), F.lit(0).cast("long")
        )
        zero = F.lit(0).cast("long")
        p = F.greatest(
            zero,
            prev_p + x.getField("cents") - F.col("target") - F.col("slack"),
        )
        n = F.greatest(
            zero,
            prev_n + F.col("target") - x.getField("cents") - F.col("slack"),
        )
        return F.concat(acc, F.array(F.struct(p.alias("p"), n.alias("n"))))

    init = F.expr(
        "CAST(array() AS ARRAY<STRUCT<p: BIGINT, n: BIGINT>>)"
    )
    folded = series.select(
        "s",
        F.posexplode(F.aggregate("s", init, step)).alias("pos0", "c"),
    )
    return folded.select(
        F.element_at("s", F.col("pos0") + 1).getField("day").alias("day"),
        F.element_at("s", F.col("pos0") + 1).getField("cents").alias("cents"),
        F.col("c.p").cast("long").alias("cusum_pos"),
        F.col("c.n").cast("long").alias("cusum_neg"),
    )
