"""Change-point detection over the daily event-value series (round 3):
the Pettitt rank test and a standardized CUSUM (Brownian-bridge)
statistic — the two standard "did the level shift, and when?"
monitors a data-quality pipeline runs over its daily metrics.  Absent
from the reference (closest relative: its seasonality/daily-sum
descriptive stats), first-class for a 100 TB telemetry engine.

Both queries share one fact-scale stage — the per-day (sum, count)
aggregate in exact integer cents, map-side combinable — and do all
test arithmetic on the O(days) frame that falls out of it (30 rows at
any SF here; O(history length) generally, never row-scale).  Daily
means are quantized once to integer 1e-4 grain so every cumulative
sum and squared-deviation sum is an exact BIGINT in both engines;
doubles appear only in the final normalized statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.exact import R6_SQL, r6, round_long
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    with_scalars,
)
from dissertation_iceberg_spark.operators.regression import moment_sums
from dissertation_iceberg_spark.queries.registry import register


# Daily-mean quantization grain (1e-4 of a value unit).  Deviations
# D_t = n*x_q - sum(x_q) stay ~ n * 2e5, so sum(D^2) fits BIGINT for
# any history up to ~1e4 years of days — 1e6 grain would not.
_Q = 10_000


# Shared day frame: day, exact quantized daily mean of `value`.
_DAILY_SQL = f"""
  SELECT date_trunc('day', ts) AS day,
         CAST(round(sum(CAST(round(value * 100) AS BIGINT))
                    / CAST(count(*) AS DOUBLE) / 100 * {_Q}) AS BIGINT) AS xq
  FROM events GROUP BY 1
"""


def _daily_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "events"))
    return e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(
            F.sum(round_long(F.col("value") * 100))
            / F.count(F.lit(1)).cast("double")
            / 100
            * _Q
        )
        .cast("long")
        .alias("xq")
    )


# --------------------------------------------------------------------------
# Pettitt change-point test
# --------------------------------------------------------------------------

_PETTITT_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
ranked AS (
  SELECT day, xq,
         CAST(row_number() OVER (ORDER BY xq, day) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily),
curve AS (
  SELECT day, xq, n,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(sum(rk) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS srk
  FROM ranked),
u AS (
  SELECT day, xq, n, t, 2 * srk - t * (n + 1) AS u_t FROM curve),
k0 AS (
  SELECT day, xq, n, t, CAST(u_t AS BIGINT) AS u_t,
         max(abs(u_t)) OVER () AS k_stat
  FROM u),
k AS (
  SELECT day, xq, n, t, u_t, k_stat,
         min(CASE WHEN abs(u_t) = k_stat THEN day END) OVER () AS cp_day
  FROM k0)
SELECT day, {R6_SQL.format(x=f"CAST(xq AS DOUBLE) / {_Q}")} AS daily_mean,
       u_t, CAST(k_stat AS BIGINT) AS k_stat,
       {R6_SQL.format(x="2 * exp(-6.0 * k_stat * k_stat / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))")} AS p_value,
       CAST(day = cp_day AS BIGINT) AS is_changepoint
FROM k
"""


@register("pettitt_changepoint", oracle=_PETTITT_ORACLE)
def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt (1979) nonparametric change-point test over the daily
    mean event value: U_t = 2·S_t − t(n+1) from the rank cumsum, the
    change point at argmax|U_t| (earliest day on ties), and the
    approximate significance p ≈ 2·exp(−6K²/(n³+n²)).

    Scale shape: one map-side-combinable daily aggregate; ranks,
    cumsums and the max all run on the O(days) frame (30 rows here —
    the same accepted unpartitioned-window class as SCALE.md's
    O(bins) frames).  Ranks and U_t are exact integers; the only
    doubles are the final displayed mean and p-value.
    """
    daily = _daily_frame(spark, sf_dir)
    ranked = daily.select(
        "day",
        "xq",
        F.row_number()
        .over(Window.orderBy("xq", "day"))
        .cast("long")
        .alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("long")
        .alias("n"),
    )
    wday = Window.orderBy("day")
    curve = ranked.select(
        "day",
        "xq",
        "n",
        F.row_number().over(wday).cast("long").alias("t"),
        F.sum("rk")
        .over(wday.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("srk"),
    )
    u = curve.select(
        "day",
        "xq",
        "n",
        (2 * F.col("srk") - F.col("t") * (F.col("n") + 1)).alias("u_t"),
    )
    wall = Window.partitionBy()
    k = u.select(
        "day",
        "xq",
        "n",
        F.col("u_t").cast("long").alias("u_t"),
        F.max(F.abs("u_t")).over(wall).alias("k_stat"),
        F.min(
            F.when(
                F.abs("u_t") == F.max(F.abs("u_t")).over(wall), F.col("day")
            )
        )
        .over(wall)
        .alias("cp_day"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k_stat").cast("double")
    return k.select(
        "day",
        r6(F.col("xq").cast("double") / _Q).alias("daily_mean"),
        "u_t",
        F.col("k_stat").cast("long").alias("k_stat"),
        r6(2 * F.exp(-6.0 * kd * kd / (nd * nd * nd + nd * nd))).alias(
            "p_value"
        ),
        (F.col("day") == F.col("cp_day")).cast("long").alias("is_changepoint"),
    )


# --------------------------------------------------------------------------
# Standardized CUSUM (Brownian bridge)
# --------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
base AS (
  SELECT day, xq,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(xq) OVER () AS BIGINT) AS sx
  FROM daily),
dev AS (
  SELECT day, xq, n, n * xq - sx AS d FROM base),
curve AS (
  SELECT day, xq, n, CAST(d AS BIGINT) AS d,
         CAST(sum(d) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
         CAST(sum(CAST(d AS HUGEINT) * d) OVER () AS DOUBLE) AS sdd
  FROM dev),
b AS (
  SELECT day, xq, n,
         cs / sqrt(CAST(n AS DOUBLE) * sdd / (n - 1)) AS bridge
  FROM curve),
k0 AS (
  SELECT day, xq, n, bridge, max(abs(bridge)) OVER () AS k_stat
  FROM b),
k AS (
  SELECT day, xq, n, bridge, k_stat,
         min(CASE WHEN abs(bridge) = k_stat THEN day END) OVER () AS cp_day
  FROM k0)
SELECT day, {R6_SQL.format(x=f"CAST(xq AS DOUBLE) / {_Q}")} AS daily_mean,
       {R6_SQL.format(x="bridge")} AS bridge,
       {R6_SQL.format(x="k_stat")} AS k_stat,
       {R6_SQL.format(x="2 * exp(-2.0 * k_stat * k_stat)")} AS p_value,
       CAST(day = cp_day AS BIGINT) AS is_changepoint
FROM k
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized CUSUM of daily means as a Brownian-bridge
    statistic: B_t = CS_t / √(n·ΣD²/(n−1)) with D_t the exact integer
    scaled deviation n·x_t − Σx, change point at argmax|B_t|, and the
    first-term Kolmogorov approximation p ≈ 2·exp(−2K²).

    Scale shape: identical to pettitt_changepoint — one fact-scale
    daily aggregate, then exact-integer cumsums (CS_t, ΣD²) on the
    O(days) frame; no raw-double sum crosses an engine boundary, so
    the bridge values are bit-identical in both engines.
    """
    daily = _daily_frame(spark, sf_dir)
    wall = Window.partitionBy()
    base = daily.select(
        "day",
        "xq",
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("xq").over(wall).cast("long").alias("sx"),
    )
    dev = base.select(
        "day", "xq", "n", (F.col("n") * F.col("xq") - F.col("sx")).alias("d")
    )
    wday = Window.orderBy("day")
    curve = dev.select(
        "day",
        "xq",
        "n",
        F.sum("d")
        .over(wday.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cs"),
        # d*d overflows int64 once daily-mean deviations pass ~2e3
        # currency units at the 1e-4 quantum (round-6 decimals fuzz) —
        # the square-sum runs in exact DECIMAL(38) (order-independent)
        # and lands as ONE double rounding, mirrored by the oracle's
        # HUGEINT sum
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .over(wall)
        .cast("double")
        .alias("sdd"),
    )
    bridge = F.col("cs") / F.sqrt(
        F.col("n").cast("double") * F.col("sdd") / (F.col("n") - 1)
    )
    b = curve.select("day", "xq", "n", bridge.alias("bridge"))
    k = b.select(
        "day",
        "xq",
        "n",
        "bridge",
        F.max(F.abs("bridge")).over(wall).alias("k_stat"),
        F.min(
            F.when(
                F.abs("bridge") == F.max(F.abs("bridge")).over(wall),
                F.col("day"),
            )
        )
        .over(wall)
        .alias("cp_day"),
    )
    return k.select(
        "day",
        r6(F.col("xq").cast("double") / _Q).alias("daily_mean"),
        r6(F.col("bridge")).alias("bridge"),
        r6(F.col("k_stat")).alias("k_stat"),
        r6(2 * F.exp(-2.0 * F.col("k_stat") * F.col("k_stat"))).alias(
            "p_value"
        ),
        (F.col("day") == F.col("cp_day")).cast("long").alias("is_changepoint"),
    )


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential, round 3)
# --------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily),
rec AS (
  SELECT event_type, t, n, y AS l, CAST(0 AS BIGINT) AS b
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.t, i.n,
         (i.y + r.l + r.b) >> 1 AS l,
         (((i.y + r.l + r.b) >> 1) - r.l + r.b) >> 1 AS b
  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1)
SELECT event_type, CAST(n AS BIGINT) AS n_days, l AS level, b AS trend,
       l + b AS forecast_next
FROM rec WHERE t = n
"""


@register("holt_linear_forecast", oracle=_HOLT_ORACLE)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) smoothing of each event
    type's daily volume with alpha = beta = 1/2, emitting the final
    smoothed level, trend, and one-step-ahead forecast — the classic
    local-linear forecaster between the seasonal-naive baseline and a
    full seasonal Holt-Winters.

    Cross-engine determinism: with alpha = beta = 1/2 the recursion
      l_t = (y_t + l_{t-1} + b_{t-1}) >> 1
      b_t = (l_t - l_{t-1} + b_{t-1}) >> 1
    stays in exact BIGINT arithmetic — ``>>`` is the arithmetic
    (floor) shift in BOTH Spark (Java ``>>``) and DuckDB, including on
    negative trends — so there is no float path at all.  The oracle
    replays the identical recursion as a recursive CTE.

    Scale shape: one fact-scale map-side-combinable daily aggregate;
    the inherently sequential recursion then folds over each type's
    O(days) ordered array JVM-side (``aggregate`` over a
    ``sort_array(collect_list)``) — per-group state is two BIGINTs,
    groups fold in parallel, and nothing row-scale is ever collected
    or sorted globally.
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    init = F.struct(
        F.col("s")[0]["y"].alias("l"),
        F.lit(0).cast("long").alias("b"),
    )
    rest = F.slice(F.col("s"), F.lit(2), F.size("s") - 1)

    def step(acc, x):
        l_new = F.shiftright(x["y"] + acc["l"] + acc["b"], 1)
        b_new = F.shiftright(l_new - acc["l"] + acc["b"], 1)
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    fin = F.aggregate(rest, init, step)
    return series.select(
        "event_type",
        F.size("s").cast("long").alias("n_days"),
        fin["l"].alias("level"),
        fin["b"].alias("trend"),
        (fin["l"] + fin["b"]).alias("forecast_next"),
    )


# --------------------------------------------------------------------------
# Classical additive seasonal decomposition (centered-MA detrending)
# --------------------------------------------------------------------------

_SD_HALF = 3  # 7-day centered moving-average trend window

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS day_num,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
win AS (
  SELECT day_num, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS sum7,
         CAST(count(*) OVER w AS BIGINT) AS cnt7
  FROM daily
  WINDOW w AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
dowd AS (
  SELECT (day_num + 3) % 7 AS dow, cents,
         CASE WHEN cnt7 = 7 THEN cents * 7 - sum7 END AS detr7
  FROM win)
SELECT dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(count(detr7) AS BIGINT) AS n_windows,
       CAST(sum(cents) AS BIGINT) / CAST(count(*) AS BIGINT) AS mean_cents,
       CAST(sum(detr7) AS BIGINT) / (CAST(count(detr7) AS BIGINT) * 7)
         AS seasonal_cents
FROM dowd GROUP BY 1
"""


@register("seasonal_decompose", oracle=_SEASONAL_ORACLE)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily order
    revenue series: a 7-day centered moving average estimates the
    trend, and the day-of-week seasonal index is the mean detrended
    value per weekday (0 = Monday via pure epoch-day arithmetic — no
    engine-specific dayofweek convention) — the textbook decompose()
    every monitoring stack runs before alerting on a daily metric.

    Scale shape: one fact-scale map-side-combinable daily sum in exact
    integer cents; everything after lives on the O(days) frame (the
    centered window is the accepted bounded-frame class — history
    length, never row-scale). Incomplete edge windows are excluded
    (cnt7 = 7), matching statsmodels' NaN trend edges.

    Determinism: the detrended value rides as the exact BIGINT
    cents*7 - sum7 (no division inside the window), so per-weekday
    sums are exact; each output ratio is a SINGLE integer/integer
    division (IEEE-exact both engines) — no rounding anywhere."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(round_long(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day_num"),
            "cents",
        )
    )
    w7 = Window.orderBy("day_num").rowsBetween(-_SD_HALF, _SD_HALF)
    win = daily.select(
        "day_num",
        "cents",
        F.sum("cents").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
    )
    dowd = win.select(
        ((F.col("day_num") + 3) % 7).alias("dow"),
        "cents",
        F.when(
            F.col("cnt7") == 2 * _SD_HALF + 1,
            F.col("cents") * 7 - F.col("sum7"),
        ).alias("detr7"),
    )
    agg = dowd.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count("detr7").cast("long").alias("n_windows"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum("detr7").cast("long").alias("detr_sum"),
    )
    return agg.select(
        "dow",
        "n_days",
        "n_windows",
        (F.col("cents_sum") / F.col("n_days")).alias("mean_cents"),
        (F.col("detr_sum") / (F.col("n_windows") * 7)).alias("seasonal_cents"),
    )


# --------------------------------------------------------------------------
# Holt-Winters additive triple smoothing (weekly season, round 3)
# --------------------------------------------------------------------------

_HW_M = 7  # weekly season length

_HW_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily),
first7 AS (
  SELECT event_type, list(y ORDER BY t) AS w, any_value(n) AS n
  FROM idx WHERE t <= {_HW_M} GROUP BY 1),
init AS (
  SELECT event_type, n,
         CAST(floor((w[1]+w[2]+w[3]+w[4]+w[5]+w[6]+w[7]) / 7.0) AS BIGINT)
           AS l0,
         list_transform(w, x -> x - CAST(floor(
           (w[1]+w[2]+w[3]+w[4]+w[5]+w[6]+w[7]) / 7.0) AS BIGINT)) AS s0
  FROM first7),
rec AS (
  SELECT event_type, CAST({_HW_M} AS BIGINT) AS t, n, l0 AS l,
         CAST(0 AS BIGINT) AS b, s0 AS s
  FROM init
  UNION ALL
  SELECT i.event_type, i.t, i.n,
         (i.y - r.s[1] + r.l + r.b) >> 1 AS l,
         (((i.y - r.s[1] + r.l + r.b) >> 1) - r.l + r.b) >> 1 AS b,
         r.s[2:{_HW_M}]
           || [(i.y - ((i.y - r.s[1] + r.l + r.b) >> 1) + r.s[1]) >> 1] AS s
  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1)
SELECT event_type, CAST(n AS BIGINT) AS n_days, l AS level, b AS trend,
       s[1] AS next_season, l + b + s[1] AS forecast_next
FROM rec WHERE t = n
"""


@register("holt_winters_forecast", oracle=_HW_ORACLE)
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing of each
    event type's daily volume (weekly season, alpha=beta=gamma=1/2):
    final level, trend, the upcoming season index, and the one-step
    forecast l + b + s — completing the forecasting ladder
    seasonal_naive_backtest → holt_linear_forecast → Holt-Winters.

    Cross-engine determinism: with all smoothing weights 1/2 the
    recursion
      l_t = (y_t − s_{{t−7}} + l + b) >> 1
      b_t = (l_t − l + b) >> 1
      s_t = (y_t − l_t + s_{{t−7}}) >> 1
    is pure BIGINT arithmetic (``>>`` is the arithmetic floor shift in
    both engines, negatives included); the level init floor(mean of
    week 1) uses the exact <2^52 floor-of-double-division identity and
    the seasonal init is y_i − l0. No float path exists at all; the
    oracle replays the identical recursion as a recursive CTE with a
    LIST-rotation seasonal state.

    Scale shape: one map-side-combinable daily aggregate, then a
    per-type JVM-side fold (``F.aggregate`` over the sorted O(days)
    array) with constant state (two BIGINTs + a 7-slot array); groups
    fold in parallel, nothing row-scale is collected or sorted
    globally.
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    week = F.transform(F.slice(F.col("arr"), 1, _HW_M), lambda x: x["y"])
    wsum = F.aggregate(
        week, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    l0 = F.floor(wsum / 7.0).cast("long")
    s0 = F.transform(week, lambda v: v - l0)
    init = F.struct(
        l0.alias("l"), F.lit(0).cast("long").alias("b"), s0.alias("s")
    )
    rest = F.slice(F.col("arr"), _HW_M + 1, F.size("arr") - _HW_M)

    def step(acc, x):
        s_old = F.element_at(acc["s"], 1)
        l_new = F.shiftright(x["y"] - s_old + acc["l"] + acc["b"], 1)
        b_new = F.shiftright(l_new - acc["l"] + acc["b"], 1)
        s_new = F.shiftright(x["y"] - l_new + s_old, 1)
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(
                F.slice(acc["s"], 2, _HW_M - 1), F.array(s_new)
            ).alias("s"),
        )

    fin = F.aggregate(rest, init, step)
    # short-history guard (round-7 tiny fuzz): a type with under one
    # season of days has no seasonal init — zero rows, matching the
    # oracle's recursion (its seed sits at t = 7, so WHERE t = n never
    # matches when n < 7); at n >= 7 the slice length n - 7 is >= 0
    series = series.filter(F.size("arr") >= _HW_M)
    return series.select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        fin["l"].alias("level"),
        fin["b"].alias("trend"),
        F.element_at(fin["s"], 1).alias("next_season"),
        (fin["l"] + fin["b"] + F.element_at(fin["s"], 1)).alias(
            "forecast_next"
        ),
    )


# --------------------------------------------------------------------------
# Forecast backtest battery: seasonal-naive vs Holt on a 7-day holdout
# --------------------------------------------------------------------------

_BT_H = 7  # holdout horizon (days)

_BT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily),
tr AS (SELECT event_type, y, t, n - {_BT_H} AS n_tr FROM idx
       WHERE t <= n - {_BT_H}),
ho AS (SELECT event_type, y, t - (n - {_BT_H}) AS h FROM idx
       WHERE t > n - {_BT_H}),
rec AS (
  SELECT event_type, t, n_tr, y AS l, CAST(0 AS BIGINT) AS b
  FROM tr WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.t, i.n_tr,
         (i.y + r.l + r.b) >> 1 AS l,
         (((i.y + r.l + r.b) >> 1) - r.l + r.b) >> 1 AS b
  FROM rec r JOIN tr i ON i.event_type = r.event_type AND i.t = r.t + 1),
holt_state AS (SELECT event_type, n_tr, l, b FROM rec WHERE t = n_tr),
d1 AS (
  SELECT event_type,
         CAST(sum(abs(y - lag_y)) AS BIGINT) AS d_num,
         CAST(count(*) AS BIGINT) AS d_cnt
  FROM (SELECT event_type, y,
               lag(y) OVER (PARTITION BY event_type ORDER BY t) AS lag_y
        FROM tr) q
  WHERE lag_y IS NOT NULL GROUP BY 1),
preds AS (
  SELECT h.event_type, h.h, h.y,
         s.l + h.h * s.b AS f_holt,
         (SELECT t2.y FROM tr t2
          WHERE t2.event_type = h.event_type
            AND t2.t = s.n_tr + h.h - {_BT_H}) AS f_naive
  FROM ho h JOIN holt_state s ON h.event_type = s.event_type),
errs AS (
  SELECT event_type, 'holt' AS model,
         CAST(sum(abs(y - f_holt)) AS BIGINT) AS mae_num,
         CAST(sum((y - f_holt) * (y - f_holt)) AS BIGINT) AS sq_num
  FROM preds GROUP BY 1
  UNION ALL
  SELECT event_type, 'seasonal_naive' AS model,
         CAST(sum(abs(y - f_naive)) AS BIGINT) AS mae_num,
         CAST(sum((y - f_naive) * (y - f_naive)) AS BIGINT) AS sq_num
  FROM preds GROUP BY 1)
SELECT e.event_type, e.model,
       CAST(s.n_tr AS BIGINT) AS n_train,
       CAST({_BT_H} AS BIGINT) AS horizon,
       round(CAST(e.mae_num AS DOUBLE) / {_BT_H}, 6) AS mae,
       round(sqrt(CAST(e.sq_num AS DOUBLE) / {_BT_H}), 6) AS rmse,
       round(CAST(e.mae_num AS DOUBLE) * d.d_cnt
             / ({_BT_H} * CAST(d.d_num AS DOUBLE)), 6) AS mase
FROM errs e
JOIN holt_state s ON e.event_type = s.event_type
JOIN d1 d ON e.event_type = d.event_type
"""


@register("forecast_backtest_battery", oracle=_BT_ORACLE)
def forecast_backtest_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: hold out the last {h} days of each event
    type's daily-count series, forecast them with the seasonal-naive
    baseline (y_{{t−7}}) and the exact-integer Holt recursion (static
    h-step l + h·b from the train-end state), and score MAE, RMSE and
    MASE (scaled by the train-set naive-1 MAE) — the model-comparison
    readout that turns the forecasting family (seasonal_naive_backtest,
    holt_linear_forecast, holt_winters_forecast) into a decision.

    Determinism: the Holt state is the same pure BIGINT shift
    recursion as holt_linear_forecast; every forecast and error
    numerator is an exact integer; MASE is a single division of exact
    integer products. Scale shape: one daily aggregate, per-type
    O(days) folds, O(types × {h}) error rows.
    """.format(h=_BT_H)
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    n = F.size("arr")
    n_tr = (n - _BT_H).alias("n_tr")
    train = F.expr(f"transform(slice(arr, 1, size(arr) - {_BT_H}), x -> x.y)")
    hold = F.expr(
        f"transform(slice(arr, size(arr) - {_BT_H} + 1, {_BT_H}), x -> x.y)"
    )
    # short-history guard (round-7 tiny fuzz): the oracle's inner
    # joins keep a type only when the Holt recursion has a seed
    # (n_tr >= 1) AND the train naive-1 MAE exists (n_tr >= 2), i.e.
    # n >= horizon + 2 — mirror that survivorship here (it also keeps
    # every slice length non-negative)
    series = series.filter(F.size("arr") >= _BT_H + 2)
    s = series.select("event_type", n_tr, train.alias("tr"), hold.alias("ho"))
    init = F.struct(
        F.element_at(F.col("tr"), 1).alias("l"),
        F.lit(0).cast("long").alias("b"),
    )
    rest = F.slice(F.col("tr"), 2, F.col("n_tr") - 1)

    def step(acc, y):
        l_new = F.shiftright(y + acc["l"] + acc["b"], 1)
        b_new = F.shiftright(l_new - acc["l"] + acc["b"], 1)
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    st = F.aggregate(rest, init, step)
    # train naive-1 MAE numerator: sum |y_t - y_{t-1}| over the train arr
    d_num = F.aggregate(
        F.expr("zip_with(slice(tr, 2, size(tr) - 1),"
               " slice(tr, 1, size(tr) - 1), (a, b) -> abs(a - b))"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = s.select(
        "event_type",
        "n_tr",
        "tr",
        "ho",
        st.alias("st"),
        d_num.alias("d_num"),
        (F.col("n_tr") - 1).cast("long").alias("d_cnt"),
    )
    hseq = F.sequence(F.lit(1), F.lit(_BT_H))
    holt_err = F.zip_with(
        F.col("ho"),
        F.transform(hseq, lambda h: F.col("st")["l"] + h * F.col("st")["b"]),
        lambda y, f: F.struct(
            F.abs(y - f).alias("ae"), ((y - f) * (y - f)).alias("se")
        ),
    )
    # per-step guarded lookup instead of a slice: with a short train
    # set (horizon + 2 <= n < 2*horizon, round-7 tiny fuzz) the first
    # naive positions fall before t = 1 — NULL forecast there, and the
    # error sums skip NULL terms exactly like the oracle's SQL sum()
    naive_pred = F.transform(
        hseq,
        lambda h: F.when(
            F.col("n_tr") + h - _BT_H >= 1,
            F.element_at(
                F.col("tr"), (F.col("n_tr") + h - _BT_H).cast("int")
            ),
        ),
    )
    naive_err = F.zip_with(
        F.col("ho"),
        naive_pred,
        lambda y, f: F.struct(
            F.abs(y - f).alias("ae"), ((y - f) * (y - f)).alias("se")
        ),
    )

    def agg_err(errcol):
        mae_num = F.aggregate(
            errcol,
            F.lit(0).cast("long"),
            lambda acc, v: acc + F.coalesce(v["ae"], F.lit(0)),
        )
        sq_num = F.aggregate(
            errcol,
            F.lit(0).cast("long"),
            lambda acc, v: acc + F.coalesce(v["se"], F.lit(0)),
        )
        return mae_num, sq_num

    out = None
    for model, errcol in (("holt", holt_err), ("seasonal_naive", naive_err)):
        mae_num, sq_num = agg_err(errcol)
        row = base.select(
            "event_type",
            F.lit(model).alias("model"),
            F.col("n_tr").cast("long").alias("n_train"),
            F.lit(_BT_H).cast("long").alias("horizon"),
            F.round(mae_num.cast("double") / _BT_H, 6).alias("mae"),
            F.round(F.sqrt(sq_num.cast("double") / _BT_H), 6).alias("rmse"),
            # constant train series (d_num = 0): MASE undefined — NULL
            # on both engines (DuckDB's division by zero is NULL)
            F.round(
                F.when(
                    F.col("d_num") != 0,
                    mae_num.cast("double")
                    * F.col("d_cnt")
                    / (_BT_H * F.col("d_num").cast("double")),
                ),
                6,
            ).alias("mase"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# Causal-impact-lite: post-period effect vs a pre-period counterfactual
# --------------------------------------------------------------------------

_CI_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events),
daily AS (
  SELECT e.event_type, date_trunc('day', e.ts) AS day,
         CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(max(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS post
  FROM events e CROSS JOIN bounds b
  GROUP BY 1, 2),
dw AS (
  SELECT event_type, day, cents, post,
         (CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) + 3) % 7
           AS dow
  FROM daily),
cf AS (
  SELECT event_type, dow,
         CAST(round(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT)
           AS cf_cents
  FROM dw WHERE post = 0 GROUP BY 1, 2),
eff AS (
  SELECT d.event_type, d.day, d.cents, c.cf_cents,
         d.cents - c.cf_cents AS effect
  FROM dw d JOIN cf c ON d.event_type = c.event_type AND d.dow = c.dow
  WHERE d.post = 1)
SELECT event_type, day,
  round(cents / 100.0, 6) AS actual,
  round(cf_cents / 100.0, 6) AS counterfactual,
  round(effect / 100.0, 6) AS effect,
  round(CAST(sum(effect) OVER (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        / 100.0, 6) AS cum_effect
FROM eff
"""


@register("causal_impact_lite", oracle=_CI_ORACLE)
def causal_impact_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervention analysis (CausalImpact-style, seasonal-mean
    counterfactual): split the window at its exact integer-µs
    midpoint, fit each event type's pre-period day-of-week mean value
    (rounded once to integer cents), and emit the post-period
    actual / counterfactual / daily effect / cumulative effect curve
    — the event-study readout that turns 'did the launch change
    revenue' into a per-day attribution, completing the causal
    family's time-series corner (diff_in_diff compares two GROUPS;
    this compares one series against its own seasonal history).

    Scale shape: one fact-scale daily aggregate (with the 1-row
    bounds broadcast for the post flag), a 7-row-per-type
    counterfactual dim joined back broadcast, and an O(post days)
    window for the cumulative effect — all exact integer cents until
    the displayed dollar conversions.
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"), F.max(us).cast("long").alias("hi")
    )
    daily = (
        e.transform(with_scalars, bounds)
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(round_long(F.col("value") * 100))
            .cast("long")
            .alias("cents"),
            F.max((us * 2 >= F.col("lo") + F.col("hi")).cast("long"))
            .cast("long")
            .alias("post"),
        )
    )
    dw = daily.withColumn(
        "dow",
        (F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long") + 3) % 7,
    )
    cf = (
        dw.filter(F.col("post") == 0)
        .groupBy("event_type", "dow")
        .agg(
            F.round(F.sum("cents").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cf_cents")
        )
    )
    eff = dw.filter(F.col("post") == 1).join(
        F.broadcast(cf), ["event_type", "dow"]
    ).select(
        "event_type",
        "day",
        "cents",
        "cf_cents",
        (F.col("cents") - F.col("cf_cents")).alias("effect"),
    )
    cw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return eff.select(
        "event_type",
        "day",
        F.round(F.col("cents") / 100.0, 6).alias("actual"),
        F.round(F.col("cf_cents") / 100.0, 6).alias("counterfactual"),
        F.round(F.col("effect") / 100.0, 6).alias("effect"),
        F.round(
            F.sum("effect").over(cw).cast("long") / 100.0, 6
        ).alias("cum_effect"),
    )


# --------------------------------------------------------------------------
# 2-state HMM forward log-likelihood of the daily direction sequence
# --------------------------------------------------------------------------

# persistence HMM: P(stay) = 0.8; emissions P(up|bull)=0.7, P(up|bear)=0.3;
# prior [0.5, 0.5] (folded through one transition step, which is a no-op
# for the symmetric prior). All binary-exact literals — no fitting.
_HMM_STAY = 0.8
_HMM_EMIT = 0.7

_HMM_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
mv AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS diff FROM daily),
obs AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CASE WHEN diff > 0 THEN 1 ELSE 0 END AS d
  FROM mv WHERE diff IS NOT NULL AND diff <> 0),
rec AS (
  SELECT CAST(0 AS BIGINT) AS t, CAST(500000 AS BIGINT) AS a1q,
         CAST(0 AS BIGINT) AS ll
  UNION ALL
  SELECT o.t,
    CAST(round(
      (CASE WHEN o.d = 1 THEN {_HMM_EMIT} ELSE {1 - _HMM_EMIT} END
       * (r.a1q / 1e6 * {_HMM_STAY} + (1 - r.a1q / 1e6) * {1 - _HMM_STAY}))
      / (CASE WHEN o.d = 1 THEN {_HMM_EMIT} ELSE {1 - _HMM_EMIT} END
         * (r.a1q / 1e6 * {_HMM_STAY} + (1 - r.a1q / 1e6) * {1 - _HMM_STAY})
         + CASE WHEN o.d = 1 THEN {1 - _HMM_EMIT} ELSE {_HMM_EMIT} END
         * (r.a1q / 1e6 * {1 - _HMM_STAY} + (1 - r.a1q / 1e6) * {_HMM_STAY}))
      * 1e6) AS BIGINT) AS a1q,
    r.ll + CAST(round(ln(
      CASE WHEN o.d = 1 THEN {_HMM_EMIT} ELSE {1 - _HMM_EMIT} END
      * (r.a1q / 1e6 * {_HMM_STAY} + (1 - r.a1q / 1e6) * {1 - _HMM_STAY})
      + CASE WHEN o.d = 1 THEN {1 - _HMM_EMIT} ELSE {_HMM_EMIT} END
      * (r.a1q / 1e6 * {1 - _HMM_STAY} + (1 - r.a1q / 1e6) * {_HMM_STAY})
    ) * 1e6) AS BIGINT) AS ll
  FROM rec r JOIN obs o ON o.t = r.t + 1),
fin AS (
  SELECT r.ll FROM rec r JOIN (SELECT max(t) AS t FROM rec) m ON r.t = m.t),
null_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS n_up
  FROM obs),
null_ll AS (
  -- 0*ln(0) = 0 convention (round-7 tiny fuzz: an all-up or all-down
  -- sequence) - DuckDB evaluates ln eagerly and throws on ln(0)
  SELECT n, n_up,
    CASE WHEN n_up > 0
         THEN n_up * CAST(round(ln(CAST(n_up AS DOUBLE) / n) * 1e6)
                          AS BIGINT) ELSE 0 END
    + CASE WHEN n - n_up > 0
           THEN (n - n_up)
                * CAST(round(ln(1.0 - CAST(n_up AS DOUBLE) / n) * 1e6)
                       AS BIGINT) ELSE 0 END AS ll0
  FROM null_m)
SELECT z.n, z.n_up,
  round(f.ll / 1e6, 6) AS loglik_hmm,
  round(z.ll0 / 1e6, 6) AS loglik_null,
  round(2.0 * (f.ll - z.ll0) / 1e6, 6) AS lr_stat
FROM fin f CROSS JOIN null_ll z
"""


def _daily_cents(e: DataFrame) -> DataFrame:
    """The daily total-value series (day, cents) in exact integer
    cents."""
    return e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(round_long(F.col("value") * 100)).cast("long").alias("cents")
    )


def _daily_moves(e: DataFrame) -> DataFrame:
    """The non-zero day-over-day moves of :func:`_daily_cents` as
    (day, up): up = 1 on a rise, 0 on a fall; the first day and
    unchanged days drop out."""
    diff = F.col("cents") - F.lag("cents").over(Window.orderBy("day"))
    mv = _daily_cents(e).select("day", diff.alias("diff"))
    return mv.filter(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "day", F.when(F.col("diff") > 0, 1).otherwise(0).alias("up")
    )


@register("hmm_forward_loglik", oracle=_HMM_ORACLE)
def hmm_forward_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-state persistence-HMM forward log-likelihood of the daily
    up/down direction sequence (fixed literal parameters: stay-prob
    {s}, emission {e}), against the i.i.d. Bernoulli null — the
    likelihood-ratio regime-persistence screen that complements
    runs_test (counts) and event_transitions (first-order Markov on
    observed states) with a LATENT-state model.

    Determinism: the scaled forward recursion carries (α̂₁ quantized
    to 1e-6, exact micro-log-likelihood BIGINT) through the O(days)
    fold; each step's normalizer log is micro-rounded ONCE (the
    documented libm pattern) and the null term uses the same
    micro-log trick — the oracle replays the recursion as a
    recursive CTE. Scale shape: one daily aggregate, then an O(days)
    sequential fold per series (bounded state, JVM-side).
    """.format(s=_HMM_STAY, e=_HMM_EMIT)
    obs = _daily_moves(spread(load_table(spark, sf_dir, "events")))
    obs = obs.withColumnRenamed("up", "d")
    series = obs.agg(
        F.sort_array(F.collect_list(F.struct("day", "d"))).alias("arr"),
        F.sum("d").cast("long").alias("n_up"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    stay, emit = _HMM_STAY, _HMM_EMIT
    init = F.struct(
        F.lit(500_000).cast("long").alias("a1q"),
        F.lit(0).cast("long").alias("ll"),
    )

    def step(acc, x):
        a1 = acc["a1q"] / 1e6
        e1 = F.when(x["d"] == 1, F.lit(emit)).otherwise(F.lit(1 - emit))
        e2 = F.when(x["d"] == 1, F.lit(1 - emit)).otherwise(F.lit(emit))
        u1 = e1 * (a1 * stay + (1 - a1) * (1 - stay))
        u2 = e2 * (a1 * (1 - stay) + (1 - a1) * stay)
        return F.struct(
            round_long(u1 / (u1 + u2) * 1e6).alias("a1q"),
            (acc["ll"] + round_long(F.log(u1 + u2) * 1e6)).alias(
                "ll"
            ),
        )

    fin = F.aggregate(F.col("arr"), init, step)
    p_up = F.col("n_up").cast("double") / F.col("n")
    # 0*ln(0) = 0 convention (round-7 tiny fuzz: an all-up or all-down
    # sequence), mirrored in the oracle's CASE guards
    ll0 = F.when(
        F.col("n_up") > 0,
        F.col("n_up") * round_long(F.log(p_up) * 1e6),
    ).otherwise(F.lit(0).cast("long")) + F.when(
        F.col("n") - F.col("n_up") > 0,
        (F.col("n") - F.col("n_up"))
        * round_long(F.log(1.0 - p_up) * 1e6),
    ).otherwise(
        F.lit(0).cast("long")
    )
    return series.select(
        "n",
        "n_up",
        F.round(fin["ll"] / 1e6, 6).alias("loglik_hmm"),
        F.round(ll0 / 1e6, 6).alias("loglik_null"),
        F.round(2.0 * (fin["ll"] - ll0) / 1e6, 6).alias("lr_stat"),
    )


# --------------------------------------------------------------------------
# HMM Viterbi regime decoding (pure integer micro-log arithmetic)
# --------------------------------------------------------------------------

# micro-quantized log-probabilities of the hmm_forward_loglik model —
# Python-precomputed literals, so the whole Viterbi recursion is EXACT
# BIGINT arithmetic with no runtime libm call in either engine
_V_STAY = -223_144  # ln 0.8
_V_SW = -1_609_438  # ln 0.2
_V_UP_BULL = -356_675  # ln 0.7
_V_DN_BULL = -1_203_973  # ln 0.3
_V_PRIOR = -693_147  # ln 0.5

_VITERBI_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
mv AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS diff FROM daily),
obs AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CASE WHEN diff > 0 THEN 1 ELSE 0 END AS d
  FROM mv WHERE diff IS NOT NULL AND diff <> 0),
rec AS (
  SELECT CAST(0 AS BIGINT) AS t,
         CAST({_V_PRIOR} AS BIGINT) AS d1, CAST({_V_PRIOR} AS BIGINT) AS d2,
         CAST([] AS BIGINT[]) AS p1, CAST([] AS BIGINT[]) AS p2
  UNION ALL
  SELECT o.t,
    (CASE WHEN o.d = 1 THEN {_V_UP_BULL} ELSE {_V_DN_BULL} END)
      + greatest(r.d1 + {_V_STAY}, r.d2 + {_V_SW}) AS d1,
    (CASE WHEN o.d = 1 THEN {_V_DN_BULL} ELSE {_V_UP_BULL} END)
      + greatest(r.d1 + {_V_SW}, r.d2 + {_V_STAY}) AS d2,
    CASE WHEN r.d1 + {_V_STAY} >= r.d2 + {_V_SW}
         THEN r.p1 || [CAST(1 AS BIGINT)] ELSE r.p2 || [CAST(1 AS BIGINT)]
    END AS p1,
    CASE WHEN r.d1 + {_V_SW} >= r.d2 + {_V_STAY}
         THEN r.p1 || [CAST(0 AS BIGINT)] ELSE r.p2 || [CAST(0 AS BIGINT)]
    END AS p2
  FROM rec r JOIN obs o ON o.t = r.t + 1),
fin AS (
  SELECT CASE WHEN r.d1 >= r.d2 THEN r.p1 ELSE r.p2 END AS path,
         greatest(r.d1, r.d2) AS score
  FROM rec r JOIN (SELECT max(t) AS t FROM rec) m ON r.t = m.t)
SELECT o.day, CAST(o.d AS BIGINT) AS direction,
       f.path[o.t] AS regime,
       round(f.score / 1e6, 6) AS path_logprob
FROM obs o CROSS JOIN fin f
"""


@register("hmm_viterbi_regimes", oracle=_VITERBI_ORACLE)
def hmm_viterbi_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of the daily direction sequence under the
    hmm_forward_loglik model: the single most likely bull(1)/bear(0)
    regime path, one row per day with the shared path log-probability
    — the regime LABELS the forward pass only scores (forward answers
    'how likely is the data', Viterbi answers 'when were we in which
    state').

    Determinism: all log-probabilities are Python-precomputed
    micro-integer literals, so the entire dynamic program — scores,
    maxes, tie-breaks (ties prefer the bull predecessor) and the
    backpointer paths carried as integer arrays — is EXACT BIGINT
    arithmetic with no runtime libm call in either engine. Scale
    shape: one daily aggregate, then an O(days) sequential fold with
    O(days) state (two scores + two candidate paths).
    """
    obs = _daily_moves(spread(load_table(spark, sf_dir, "events")))
    obs = obs.withColumnRenamed("up", "d")
    series = obs.agg(
        F.sort_array(F.collect_list(F.struct("day", "d"))).alias("arr")
    )
    empty = F.array().cast("array<bigint>")
    init = F.struct(
        F.lit(_V_PRIOR).cast("long").alias("d1"),
        F.lit(_V_PRIOR).cast("long").alias("d2"),
        empty.alias("p1"),
        empty.alias("p2"),
    )

    def step(acc, x):
        e1 = F.when(x["d"] == 1, F.lit(_V_UP_BULL)).otherwise(
            F.lit(_V_DN_BULL)
        )
        e2 = F.when(x["d"] == 1, F.lit(_V_DN_BULL)).otherwise(
            F.lit(_V_UP_BULL)
        )
        stay1 = acc["d1"] + _V_STAY
        sw21 = acc["d2"] + _V_SW
        sw12 = acc["d1"] + _V_SW
        stay2 = acc["d2"] + _V_STAY
        one = F.array(F.lit(1).cast("bigint"))
        zero = F.array(F.lit(0).cast("bigint"))
        return F.struct(
            (e1 + F.greatest(stay1, sw21)).cast("long").alias("d1"),
            (e2 + F.greatest(sw12, stay2)).cast("long").alias("d2"),
            F.when(stay1 >= sw21, F.concat(acc["p1"], one))
            .otherwise(F.concat(acc["p2"], one))
            .alias("p1"),
            F.when(sw12 >= stay2, F.concat(acc["p1"], zero))
            .otherwise(F.concat(acc["p2"], zero))
            .alias("p2"),
        )

    fin = F.aggregate(F.col("arr"), init, step)
    folded = series.select(
        F.when(fin["d1"] >= fin["d2"], fin["p1"])
        .otherwise(fin["p2"])
        .alias("path"),
        F.greatest(fin["d1"], fin["d2"]).alias("score"),
        "arr",
    )
    out = folded.select(
        F.posexplode(F.col("arr")).alias("i", "x"), "path", "score"
    )
    return out.select(
        F.col("x.day").alias("day"),
        F.col("x.d").cast("long").alias("direction"),
        F.element_at(F.col("path"), F.col("i") + 1).alias("regime"),
        F.round(F.col("score") / 1e6, 6).alias("path_logprob"),
    )


# --------------------------------------------------------------------------
# Matrix-profile-lite: 7-day window motif discovery (exact integers)
# --------------------------------------------------------------------------

_MP_W = 7  # subsequence window (days)
_MP_EXCL = 4  # exclusion zone: |i - j| >= ceil(w/2)

_MP_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
idx AS (
  SELECT day, cents,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily),
win AS (
  SELECT a.t AS i, a.day,
         list(b.cents ORDER BY b.t) AS w
  FROM idx a JOIN idx b ON b.t BETWEEN a.t AND a.t + {_MP_W - 1}
  WHERE a.t + {_MP_W - 1} <= a.n
  GROUP BY 1, 2 HAVING count(*) = {_MP_W}),
pairs AS (
  SELECT a.i, a.day, b.i AS j,
    CAST((SELECT sum((x.ua - x.ub) * (x.ua - x.ub))
          FROM (SELECT unnest(a.w) AS ua, unnest(b.w) AS ub) x) AS BIGINT)
      AS d2
  FROM win a JOIN win b ON abs(a.i - b.i) >= {_MP_EXCL}),
prof0 AS (
  SELECT i, day, d2, j,
         min(d2) OVER (PARTITION BY i) AS mp_d2
  FROM pairs),
prof AS (
  SELECT i, day, CAST(any_value(mp_d2) AS BIGINT) AS mp_d2,
         CAST(min(CASE WHEN d2 = mp_d2 THEN j END) AS BIGINT) AS motif_j
  FROM prof0 GROUP BY 1, 2),
best AS (SELECT min(mp_d2) AS g FROM prof)
SELECT prof.day AS window_start, CAST(prof.i AS BIGINT) AS i,
       CAST(prof.mp_d2 AS BIGINT) AS mp_dist2,
       prof.motif_j,
       CAST(prof.mp_d2 = best.g AS BIGINT) AS is_global_motif
FROM prof CROSS JOIN best
"""


@register("matrix_profile_lite", oracle=_MP_ORACLE)
def matrix_profile_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile-lite motif discovery over the daily total-value
    series: for every {w}-day window, the minimum unnormalized
    squared Euclidean distance to any window at least {x} days away
    (the exclusion zone), its nearest-neighbor index, and the global
    motif flag — the 'does this week rhyme with another week'
    primitive beneath anomaly detection (a window whose profile value
    is LARGE is a discord) and seasonality mining.

    Determinism: distances are exact BIGINT sums of squared integer
    cent differences (the unnormalized-Euclidean variant — chosen
    precisely because it needs NO per-window float normalization);
    nearest-neighbor ties break by the smaller index via min_by on
    the (d2, j) pair. Scale shape: windows assemble from an O(days)
    self-band join; the pair grid is O(windows²) on the
    history-bounded frame — the accepted O(days²) class
    (mann_kendall precedent), never row-scale.
    """
    daily = _daily_cents(spread(load_table(spark, sf_dir, "events")))
    w = Window.orderBy("day").rowsBetween(0, _MP_W - 1)
    nwin = Window.partitionBy()
    idx = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(nwin).cast("long").alias("n"),
    )
    win = (
        idx.select(
            "day",
            "t",
            "n",
            F.collect_list("cents").over(w).alias("w"),
        )
        .filter(F.col("t") + _MP_W - 1 <= F.col("n"))
        .filter(F.size("w") == _MP_W)
        .select(F.col("t").alias("i"), "day", "w")
    )
    b = win.select(F.col("i").alias("j"), F.col("w").alias("wb"))
    d2 = F.aggregate(
        F.zip_with(F.col("w"), F.col("wb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = win.join(
        b, F.abs(F.col("i") - F.col("j")) >= _MP_EXCL
    ).select("i", "day", "j", d2.alias("d2"))
    prof = pairs.groupBy("i", "day").agg(
        F.min("d2").cast("long").alias("mp_d2"),
        F.min_by("j", F.struct(F.col("d2"), F.col("j")))
        .cast("long")
        .alias("motif_j"),
    )
    best = prof.agg(F.min("mp_d2").alias("g"))
    return prof.transform(with_scalars, best).select(
        F.col("day").alias("window_start"),
        F.col("i").cast("long").alias("i"),
        "mp_dist2" if False else F.col("mp_d2").alias("mp_dist2"),
        "motif_j",
        (F.col("mp_d2") == F.col("g")).cast("long").alias("is_global_motif"),
    )


# --------------------------------------------------------------------------
# Record highs: running-max records vs the i.i.d. harmonic expectation
# --------------------------------------------------------------------------

_REC_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
runs AS (
  SELECT event_type, day, cents,
         CAST(row_number() OVER w AS BIGINT) AS t,
         max(cents) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
rec AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(CASE WHEN prev_max IS NULL OR cents > prev_max
             THEN 1 ELSE 0 END) AS BIGINT) AS n_records
  FROM runs GROUP BY 1),
harm AS (
  SELECT r.event_type, r.n_days, r.n_records,
    CAST(sum(CAST(round(1e9 / g.i) AS BIGINT)) AS BIGINT) AS h_nano,
    CAST(sum(CAST(round(1e9 / g.i) AS BIGINT)
             - CAST(round(1e9 / (CAST(g.i AS DOUBLE) * g.i)) AS BIGINT))
         AS BIGINT) AS v_nano
  FROM rec r JOIN generate_series(1, 10000) AS g(i)
    ON g.i <= r.n_days
  GROUP BY 1, 2, 3)
SELECT event_type, n_days, n_records,
  round(h_nano / 1e9, 6) AS expected_records,
  round((n_records - h_nano / 1e9) / sqrt(v_nano / 1e9), 6) AS z_stat
FROM harm
"""


@register("record_highs", oracle=_REC_ORACLE)
def record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-counting trend test: how many days set a new all-time
    high of daily total value per event type, against the i.i.d.
    expectation H_n = Σ 1/t (record theory: under exchangeability day
    t is a record with probability exactly 1/t, variance Σ(1/t −
    1/t²)) — a distribution-free trend screen with a completely
    parameter-free null, complementing mann_kendall_trend (pairwise
    signs) and runs_test (direction runs).

    Determinism and scale: records come from an exclusive running-max
    window on the O(days) frame (exact integer compares); the
    harmonic mean/variance terms are 1/t values nano-rounded ONCE per
    t and summed exactly via a generate_series join bounded by
    max(n_days).
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("cents")
    )
    pw = Window.partitionBy("event_type").orderBy("day")
    runs = daily.select(
        "event_type",
        "cents",
        F.max("cents")
        .over(pw.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_max"),
    )
    rec = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(
            (
                F.col("prev_max").isNull()
                | (F.col("cents") > F.col("prev_max"))
            ).cast("long")
        )
        .cast("long")
        .alias("n_records"),
    )
    max_n = rec.agg(F.max("n_days").alias("mx"))
    grid = (
        spark.range(1, 10_000)
        .select(F.col("id").cast("long").alias("i"))
        .transform(with_scalars, max_n)
        .filter(F.col("i") <= F.col("mx"))
        .select("i")
    )
    harm = (
        rec.transform(explode_grid, grid).filter(F.col("i") <= F.col("n_days"))
        .groupBy("event_type", "n_days", "n_records")
        .agg(
            F.sum(round_long(1e9 / F.col("i")))
            .cast("long")
            .alias("h_nano"),
            F.sum(
                round_long(1e9 / F.col("i"))
                - round_long(
                    1e9 / (F.col("i").cast("double") * F.col("i"))
                )
            )
            .cast("long")
            .alias("v_nano"),
        )
    )
    return harm.select(
        "event_type",
        "n_days",
        "n_records",
        F.round(F.col("h_nano") / 1e9, 6).alias("expected_records"),
        # n_days = 1 gives zero record variance (round-7 tiny fuzz):
        # z undefined — NULL on both engines (DuckDB's division by
        # zero is NULL-valued)
        F.round(
            F.when(
                F.col("v_nano") != 0,
                (F.col("n_records") - F.col("h_nano") / 1e9)
                / F.sqrt(F.col("v_nano") / 1e9),
            ),
            6,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Broken-stick fit: best single knot for a two-segment linear trend
# --------------------------------------------------------------------------

_BS_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n, day, y
  FROM daily),
pre AS (
  SELECT t, n, day,
    CAST(sum(t) OVER w AS BIGINT) AS px,
    CAST(sum(y) OVER w AS BIGINT) AS py,
    CAST(sum(t * t) OVER w AS BIGINT) AS pxx,
    CAST(sum(t * y) OVER w AS BIGINT) AS pxy,
    CAST(sum(y * y) OVER w AS BIGINT) AS pyy,
    CAST(sum(t) OVER () AS BIGINT) AS tx,
    CAST(sum(y) OVER () AS BIGINT) AS ty,
    CAST(sum(t * t) OVER () AS BIGINT) AS txx,
    CAST(sum(t * y) OVER () AS BIGINT) AS txy,
    CAST(sum(y * y) OVER () AS BIGINT) AS tyy
  FROM idx
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
cand AS (
  SELECT t AS knot, day, n,
    -- left-segment SSE from prefix sums
    (CAST(pyy AS DOUBLE) - CAST(py AS DOUBLE) * py / t)
      - (CASE WHEN t * pxx - px * px > 0 THEN
           (CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) * py / t)
           * (CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) * py / t)
           / ((CAST(pxx AS DOUBLE) - CAST(px AS DOUBLE) * px / t))
         ELSE 0 END) AS sse_l,
    ((CAST(tyy - pyy AS DOUBLE)
      - CAST(ty - py AS DOUBLE) * (ty - py) / (n - t))
      - (CASE WHEN (n - t) * (txx - pxx) - (tx - px) * (tx - px) > 0 THEN
           (CAST(txy - pxy AS DOUBLE)
            - CAST(tx - px AS DOUBLE) * (ty - py) / (n - t))
           * (CAST(txy - pxy AS DOUBLE)
              - CAST(tx - px AS DOUBLE) * (ty - py) / (n - t))
           / (CAST(txx - pxx AS DOUBLE)
              - CAST(tx - px AS DOUBLE) * (tx - px) / (n - t))
         ELSE 0 END)) AS sse_r
  FROM pre WHERE t >= 3 AND n - t >= 3),
best AS (
  SELECT knot, day, n, sse_l, sse_r, sse_l + sse_r AS sse
  FROM cand ORDER BY sse_l + sse_r ASC, knot ASC LIMIT 1)
SELECT CAST(n AS BIGINT) AS n_days, CAST(knot AS BIGINT) AS knot_t,
  day AS knot_day,
  round(sse / 1e4, 4) AS sse_total,
  round(sse_l / 1e4, 4) AS sse_left,
  round(sse_r / 1e4, 4) AS sse_right
FROM best
"""


@register("broken_stick_fit", oracle=_BS_ORACLE)
def broken_stick_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-stick (segmented-regression) fit of the daily
    total-value series: choose the single knot minimizing the summed
    SSE of two independent linear segments — the trend-CHANGE locator
    that complements cusum/pettitt (level shifts): those ask 'did the
    mean jump', this asks 'did the slope change, and when'.

    Determinism and scale: prefix power sums (Σt, Σy, Σt², Σty, Σy²)
    are exact BIGINT cumsums on the O(days) frame, so BOTH segments'
    closed-form SSEs at EVERY candidate knot come from one pass —
    O(days) total work, not O(days²) refits; SSE expressions are
    identically-shaped IEEE doubles with (sse, knot) tie-breaks.
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("y")
    )
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        "y",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    cw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = idx.select(
        "t",
        "n",
        "day",
        F.sum("t").over(cw).cast("long").alias("px"),
        F.sum("y").over(cw).cast("long").alias("py"),
        F.sum(F.col("t") * F.col("t")).over(cw).cast("long").alias("pxx"),
        F.sum(F.col("t") * F.col("y")).over(cw).cast("long").alias("pxy"),
        F.sum(F.col("y") * F.col("y")).over(cw).cast("long").alias("pyy"),
        F.sum("t").over(wall).cast("long").alias("tx"),
        F.sum("y").over(wall).cast("long").alias("ty"),
        F.sum(F.col("t") * F.col("t")).over(wall).cast("long").alias("txx"),
        F.sum(F.col("t") * F.col("y")).over(wall).cast("long").alias("txy"),
        F.sum(F.col("y") * F.col("y")).over(wall).cast("long").alias("tyy"),
    )
    t, n = F.col("t"), F.col("n")

    def seg_sse(syy, sy, sxy, sx, sxx, cnt):
        css_y = syy.cast("double") - sy.cast("double") * sy / cnt
        cxy = sxy.cast("double") - sx.cast("double") * sy / cnt
        cxx = sxx.cast("double") - sx.cast("double") * sx / cnt
        return css_y - F.when(cxx > 0, cxy * cxy / cxx).otherwise(0.0)

    sse_l = seg_sse(
        F.col("pyy"), F.col("py"), F.col("pxy"), F.col("px"), F.col("pxx"), t
    )
    sse_r = seg_sse(
        F.col("tyy") - F.col("pyy"),
        F.col("ty") - F.col("py"),
        F.col("txy") - F.col("pxy"),
        F.col("tx") - F.col("px"),
        F.col("txx") - F.col("pxx"),
        n - t,
    )
    cand = pre.filter((t >= 3) & (n - t >= 3)).select(
        t.alias("knot"),
        "day",
        "n",
        sse_l.alias("sse_l"),
        sse_r.alias("sse_r"),
        (sse_l + sse_r).alias("sse"),
    )
    best = cand.orderBy(F.asc("sse"), F.asc("knot")).limit(1)
    return best.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("knot").cast("long").alias("knot_t"),
        F.col("day").alias("knot_day"),
        F.round(F.col("sse") / 1e4, 4).alias("sse_total"),
        F.round(F.col("sse_l") / 1e4, 4).alias("sse_left"),
        F.round(F.col("sse_r") / 1e4, 4).alias("sse_right"),
    )


# --------------------------------------------------------------------------
# Decomposition-residual anomaly flags (seasonal_decompose's monitor)
# --------------------------------------------------------------------------

_RESID_ANOM_ORACLE = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS day_num,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
win AS (
  SELECT day_num, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS sum7,
         CAST(count(*) OVER w AS BIGINT) AS cnt7
  FROM daily
  WINDOW w AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
dowd AS (
  SELECT day_num, (day_num + 3) % 7 AS dow,
         cents * 7 - sum7 AS detr7
  FROM win WHERE cnt7 = 7),
g AS (SELECT dow, CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(detr7) AS BIGINT) AS dsum FROM dowd GROUP BY 1),
r AS (
  SELECT dowd.dow, day_num, nw,
         abs(detr7 * nw - dsum) AS abs_r
  FROM dowd JOIN g USING (dow)),
rk AS (
  SELECT dow, nw, abs_r,
         row_number() OVER (PARTITION BY dow ORDER BY abs_r, day_num)
           AS rn
  FROM r),
mads AS (SELECT dow, abs_r AS mad FROM rk WHERE rn = (nw + 1) // 2)
SELECT dow,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN abs_r > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       round(CAST(mad AS DOUBLE) / nw / 7, 2) AS mad_cents,
       round(CAST(max(abs_r) AS DOUBLE) / nw / 7, 2) AS max_resid_cents
FROM r JOIN mads USING (dow)
GROUP BY dow, mad, nw
"""


@register("decompose_residual_anomaly", oracle=_RESID_ANOM_ORACLE)
def decompose_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual-based anomaly monitor on top of the classical
    decomposition: remove the 7-day centered-MA trend (exactly
    ``seasonal_decompose``'s detrending, same integer cents*7 - sum7
    form), remove each weekday's mean seasonal component, and flag
    days whose |residual| exceeds 3x the per-weekday MAD — the
    standard decompose-then-MAD alert a monitoring stack runs after
    ``seasonal_decompose`` has fit the components (``daily_anomaly_mad``
    is the same gate WITHOUT deseasonalization; this one does not fire
    on ordinary weekend dips).

    Determinism: the deseasonalized residual rides as the exact
    BIGINT detr7*nw - dsum (= nw * (detr7 - dow mean), a common-
    denominator trick that avoids the division); the MAD is the exact
    LOWER median — the (nw+1)//2-th order statistic of |residual| with
    day_num as the deterministic tiebreak — so the 3x flag compares
    exact integers. Only the two report columns divide, in one
    mirrored float expression each.

    Scale shape: one fact-scale map-side-combinable daily sum; every
    later stage lives on the O(days) frame — the centered MA is the
    accepted bounded-frame window class (history length), and the
    per-dow rank/median windows partition by weekday over O(days/7)
    rows. Nothing row-scale sorts or collects."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(round_long(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day_num"),
            "cents",
        )
    )
    w7 = Window.orderBy("day_num").rowsBetween(-3, 3)
    dowd = (
        daily.select(
            "day_num",
            "cents",
            F.sum("cents").over(w7).cast("long").alias("sum7"),
            F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
        )
        .filter(F.col("cnt7") == 7)
        .select(
            "day_num",
            ((F.col("day_num") + 3) % 7).alias("dow"),
            (F.col("cents") * 7 - F.col("sum7")).alias("detr7"),
        )
    )
    g = dowd.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("detr7").cast("long").alias("dsum"),
    )
    r = dowd.join(F.broadcast(g), "dow").select(
        "dow",
        "day_num",
        "nw",
        F.abs(F.col("detr7") * F.col("nw") - F.col("dsum")).alias("abs_r"),
    )
    wr = Window.partitionBy("dow").orderBy("abs_r", "day_num")
    mads = (
        r.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == F.expr("(nw + 1) div 2"))
        .select("dow", F.col("abs_r").alias("mad"))
    )
    return (
        r.join(F.broadcast(mads), "dow")
        .groupBy("dow", "mad", "nw")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum((F.col("abs_r") > 3 * F.col("mad")).cast("int"))
            .cast("long")
            .alias("n_anomalies"),
            F.max("abs_r").alias("max_abs"),
        )
        .select(
            "dow",
            "n_windows",
            "n_anomalies",
            F.round(F.col("mad").cast("double") / F.col("nw") / 7, 2).alias(
                "mad_cents"
            ),
            F.round(
                F.col("max_abs").cast("double") / F.col("nw") / 7, 2
            ).alias("max_resid_cents"),
        )
    )


# --------------------------------------------------------------------------
# Croston's method (intermittent-demand forecast, per user)
# --------------------------------------------------------------------------

_CROSTON_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day_num,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
d AS (
  SELECT user_id, day_num, cents,
         row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM daily),
rec AS (
  SELECT user_id, i, n, cents AS z, CAST(1 AS BIGINT) AS q,
         day_num AS prev
  FROM d WHERE i = 1
  UNION ALL
  SELECT d.user_id, d.i, d.n,
         (d.cents + r.z) >> 1 AS z,
         ((d.day_num - r.prev) + r.q) >> 1 AS q,
         d.day_num AS prev
  FROM rec r JOIN d ON d.user_id = r.user_id AND d.i = r.i + 1)
SELECT user_id, CAST(n AS BIGINT) AS n_demands,
       z AS z_hat_cents, q AS q_hat_days,
       round(CAST(z AS DOUBLE) / q, 2) AS forecast_cents_per_day
FROM rec WHERE i = n
"""


@register("croston_intermittent", oracle=_CROSTON_ORACLE)
def croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) for intermittent demand: per user,
    exponentially smooth the nonzero daily purchase amounts (z) and
    the inter-purchase intervals in days (q) SEPARATELY, forecasting
    z_hat / q_hat value per day — the standard forecaster when most
    periods are zero and plain SES chases the zeros (spare parts,
    long-tail shoppers). Companion to holt/holt_winters (dense
    series): same alpha = 1/2 integer recursion, different demand
    model.

    Determinism: with alpha = 1/2 both recursions are exact BIGINT
    arithmetic-shift updates ((x + acc) >> 1, the holt trick) over
    integer cents and integer day gaps — the ONLY float op is the
    final z/q division, one mirrored expression. The oracle replays
    the identical recursion as a recursive CTE keyed by demand index.

    Scale shape: one fact-scale map-side-combinable (user, day)
    aggregate; each user's demand history then folds JVM-side over a
    sort_array(collect_list) of O(active-days) structs — per-group
    state is three BIGINTs, groups fold in parallel (the accepted
    bounded per-key history class), and nothing row-scale sorts
    globally."""
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = spread(load_table(spark, sf_dir, "events"))
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            (micros("ts") / F.lit(86_400_000_000))
            .cast("long")
            .alias("day_num"),
        )
        .agg(
            F.sum(round_long(F.col("value") * 100))
            .cast("long")
            .alias("cents")
        )
    )
    series = daily.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("day_num", "cents"))
        ).alias("s")
    )
    init = F.struct(
        F.col("s")[0]["cents"].alias("z"),
        F.lit(1).cast("long").alias("q"),
        F.col("s")[0]["day_num"].alias("prev"),
    )
    rest = F.slice(F.col("s"), F.lit(2), F.size("s") - 1)

    def step(acc, x):
        return F.struct(
            F.shiftright(x["cents"] + acc["z"], 1).alias("z"),
            F.shiftright((x["day_num"] - acc["prev"]) + acc["q"], 1).alias(
                "q"
            ),
            x["day_num"].alias("prev"),
        )

    fin = F.aggregate(rest, init, step)
    return series.select(
        "user_id",
        F.size("s").cast("long").alias("n_demands"),
        fin["z"].alias("z_hat_cents"),
        fin["q"].alias("q_hat_days"),
        F.round(fin["z"].cast("double") / fin["q"], 2).alias(
            "forecast_cents_per_day"
        ),
    )


# --------------------------------------------------------------------------
# Theta-method forecast (Assimakopoulos & Nikolopoulos 2000)
# --------------------------------------------------------------------------

_THETA_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day_num,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
x0 AS (SELECT event_type, min(day_num) AS x0 FROM daily GROUP BY 1),
xs AS (
  SELECT d.event_type, d.day_num - x0.x0 AS x, d.y
  FROM daily d JOIN x0 USING (event_type)),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(max(x) AS BIGINT) AS xn
  FROM xs GROUP BY 1 HAVING count(*) >= 3),
co AS (
  SELECT *,
         n * sxy - sx * sy AS b_num,
         n * sxx - sx * sx AS b_den
  FROM st),
lm AS (
  SELECT xs.event_type, xs.x,
         CAST(round((CAST(xs.y AS DOUBLE) * 2
                     - ((CAST(sy AS DOUBLE)
                         - CAST(b_num AS DOUBLE) / b_den * sx) / n
                        + CAST(b_num AS DOUBLE) / b_den * xs.x))
                    * 1e6) AS BIGINT) AS l_micro,
         row_number() OVER (PARTITION BY xs.event_type ORDER BY xs.x)
           AS i,
         n
  FROM xs JOIN co USING (event_type)),
rec AS (
  SELECT event_type, i, n, l_micro AS ses FROM lm WHERE i = 1
  UNION ALL
  SELECT l.event_type, l.i, l.n, (l.l_micro + r.ses) >> 1 AS ses
  FROM rec r JOIN lm l ON l.event_type = r.event_type AND l.i = r.i + 1)
SELECT co.event_type,
       co.n AS n_days,
       round(CAST(b_num AS DOUBLE) / b_den, 6) AS slope,
       round(CAST(ses AS DOUBLE) / 1e6, 6) AS ses_theta_level,
       round(((CAST(sy AS DOUBLE)
               - CAST(b_num AS DOUBLE) / b_den * sx) / co.n
              + CAST(b_num AS DOUBLE) / b_den * (xn + 1)) * 0.5
             + CAST(ses AS DOUBLE) / 1e6 * 0.5, 6) AS forecast_next
FROM co JOIN rec ON rec.event_type = co.event_type AND rec.i = co.n
"""


@register("theta_forecast", oracle=_THETA_ORACLE)
def theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 — the
    M3-competition winner) of each event type's daily volume: the
    classic theta(0, 2) decomposition, forecasting the average of the
    linear trend extrapolation (theta = 0) and SES applied to the
    theta = 2 line (2y_t - trend_t, double-curvature series). The
    serious-baseline forecaster between holt_linear_forecast (no
    damping toward trend) and holt_winters_forecast (seasonal).

    Determinism: the trend is the EXACT least-squares line via BIGINT
    Gram sums (b = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), days centered at
    each type's first day so products stay small); the theta line
    micro-rounds per day through one mirrored float expression (libm
    rule); the SES recursion is the exact alpha = 1/2 integer shift;
    the two final report expressions are identically shaped floats.

    Scale shape: one fact-scale map-side-combinable daily count, then
    everything lives on the O(days)-per-type frame: the Gram sums are
    a second tiny aggregate, the theta line is a map-side expression,
    and the SES folds JVM-side over sort_array(collect_list) with one
    BIGINT of state per group (the accepted bounded per-key history
    class). Types with under 3 days are excluded (trend undefined)."""
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type",
        (micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day_num"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    x0 = daily.groupBy("event_type").agg(F.min("day_num").alias("x0"))
    xs = daily.join(F.broadcast(x0), "event_type").select(
        "event_type", (F.col("day_num") - F.col("x0")).alias("x"), "y"
    )
    st = (
        xs.groupBy("event_type")
        .agg(
            *moment_sums(F.col("x"), F.col("y")),
            F.max("x").cast("long").alias("xn"),
        )
        .filter(F.col("n") >= 3)
        .withColumn(
            "b_num", F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        )
        .withColumn(
            "b_den", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        )
    )
    b = F.col("b_num").cast("double") / F.col("b_den")
    a = (F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")
    series = xs.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("s")
    )
    j = series.join(F.broadcast(st), "event_type")
    lm = F.transform(
        F.col("s"),
        lambda el: round_long(
            (el["y"].cast("double") * 2 - (a + b * el["x"])) * 1e6
        ),
    )
    j = j.withColumn("lm", lm)
    ses = F.aggregate(
        F.slice(F.col("lm"), F.lit(2), F.size("lm") - 1),
        F.col("lm")[0],
        lambda acc, v: F.shiftright(v + acc, 1),
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(b, 6).alias("slope"),
        F.round(ses.cast("double") / 1e6, 6).alias("ses_theta_level"),
        F.round(
            (a + b * (F.col("xn") + 1)) * 0.5
            + ses.cast("double") / 1e6 * 0.5,
            6,
        ).alias("forecast_next"),
    )
