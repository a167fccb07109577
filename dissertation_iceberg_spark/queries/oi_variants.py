"""OI-variant queries (SURVEY §2.3 J4-J7, §2.4 A4-A5, A13, A16, P9).

All conditional-OI variants are computed in ONE aggregation pass with
predicate-split sums (the reference computes each subset separately and
merges frames — J4/J5/J6; a single grouped pass is the Spark-first
equivalent with identical results and one shuffle instead of N+N joins).
Sums use integer cents so every ratio is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.exact import CENTS_SQL, lob_cents, round_long
from dissertation_iceberg_spark.functions.time_bins import bin_end, bin_end_sql
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.queries.sqlgen import EVENTS_LOB_SQL

DELTA = 21_600  # 6-hour bins for variant queries (denser per-bin counts)


def _oi_cents(dir_col, cents, pred):
    sell = F.sum(F.when((dir_col == -1) & pred, cents).otherwise(F.lit(0)))
    buy = F.sum(F.when((dir_col == 1) & pred, cents).otherwise(F.lit(0)))
    return F.when((sell + buy) != 0, (sell - buy) / (sell + buy))


def _oi_series(spark: SparkSession, sf_dir: str, delta: int) -> DataFrame:
    """The densified OI series (bin, oi) at ``delta``-second bins: the
    all-orders cents OI per bin, with empty bins zero-filled."""
    from dissertation_iceberg_spark.operators.order_imbalance import densify

    d, c = F.col("direction"), F.col("cents")
    b = (
        lob_cents(spark, sf_dir)
        .withColumn("bin", bin_end("ts", delta))
        .groupBy("bin")
        .agg(_oi_cents(d, c, F.lit(True)).alias("oi"))
    )
    return densify(b, delta, zero_fill=("oi",))


def _oi_cents_sql(pred: str) -> str:
    sell = f"sum(CASE WHEN direction=-1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)"
    buy = f"sum(CASE WHEN direction=1 AND {pred} THEN {CENTS_SQL} ELSE 0 END)"
    return (
        f"CASE WHEN ({sell} + {buy}) <> 0 "
        f"THEN CAST({sell} - {buy} AS DOUBLE) / ({sell} + {buy}) END"
    )


# --------------------------------------------------------------------------
# J4 combined vis/hid OI (inner-presence semantics)
# --------------------------------------------------------------------------

_COMBINED_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL})
SELECT * FROM (
  SELECT {bin_end_sql("ts", DELTA)} AS bin,
         round({_oi_cents_sql("event_type = 'purchase'")}, 6) AS oi_vis,
         round({_oi_cents_sql("event_type = 'error'")}, 6) AS oi_hid
  FROM lob GROUP BY 1)
WHERE oi_vis IS NOT NULL AND oi_hid IS NOT NULL
"""


@register("combined_oi", oracle=_COMBINED_ORACLE)
def combined_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: visible-OI ⨝ hidden-OI per bin (order_imbalance.py:328-335)
    — one predicate-split pass; inner-merge semantics = both legs
    present."""
    df = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    return (
        df.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            F.round(_oi_cents(d, c, F.col("event_type") == "purchase"), 6).alias("oi_vis"),
            F.round(_oi_cents(d, c, F.col("event_type") == "error"), 6).alias("oi_hid"),
        )
        .filter(F.col("oi_vis").isNotNull() & F.col("oi_hid").isNotNull())
    )


# --------------------------------------------------------------------------
# J5 VHI left-join variant (hid leg zero-filled)
# --------------------------------------------------------------------------

_VHI_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL})
SELECT bin, oi_vis, coalesce(oi_hid, 0) AS oi_hid FROM (
  SELECT {bin_end_sql("ts", DELTA)} AS bin,
         round({_oi_cents_sql("event_type = 'purchase'")}, 6) AS oi_vis,
         round({_oi_cents_sql("event_type = 'error'")}, 6) AS oi_hid
  FROM lob GROUP BY 1)
WHERE oi_vis IS NOT NULL
"""


@register("vhi_oi", oracle=_VHI_ORACLE)
def vhi_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: vis-OI left-joined with hid-OI, missing hid leg -> 0
    (order_imbalance.py:408-414)."""
    df = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    return (
        df.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            F.round(_oi_cents(d, c, F.col("event_type") == "purchase"), 6).alias("oi_vis"),
            F.round(_oi_cents(d, c, F.col("event_type") == "error"), 6).alias("oi_hid"),
        )
        .filter(F.col("oi_vis").isNotNull())
        .withColumn("oi_hid", F.coalesce(F.col("oi_hid"), F.lit(0.0)))
    )


# --------------------------------------------------------------------------
# P9 size terciles + A4/J6 conditional OI split
# --------------------------------------------------------------------------

_TERCILE_ORACLE = """
SELECT event_id,
       CAST(ntile(3) OVER (PARTITION BY date_trunc('day', ts)
                           ORDER BY value, event_id) AS BIGINT) AS tercile
FROM events
"""


@register("size_terciles", oracle=_TERCILE_ORACLE)
def size_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: small/medium/large split by per-day size terciles
    (order_imbalance.py:435-448) — ntile, partitioned by day so the
    sort never concentrates on one node."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.date_trunc("day", F.col("ts"))).orderBy(
        "value", "event_id"
    )
    return e.select(
        "event_id", F.ntile(3).over(w).cast("long").alias("tercile")
    )


_COND_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
t AS (
  SELECT *, ntile(3) OVER (PARTITION BY date_trunc('day', ts)
                           ORDER BY value, event_id) AS tercile
  FROM lob)
SELECT {bin_end_sql("ts", DELTA)} AS bin,
       round({_oi_cents_sql("tercile = 1")}, 6) AS oi_small,
       round({_oi_cents_sql("tercile = 2")}, 6) AS oi_medium,
       round({_oi_cents_sql("tercile = 3")}, 6) AS oi_large
FROM t GROUP BY 1
"""


@register("conditional_oi_terciles", oracle=_COND_ORACLE)
def conditional_oi_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J6: conditional OI per size class in one pass — replaces the
    reference's loop-of-merges (order_imbalance.py:452-475)."""
    df = lob_cents(spark, sf_dir)
    w = Window.partitionBy(F.date_trunc("day", F.col("ts"))).orderBy(
        "value", "event_id"
    )
    df = df.withColumn("tercile", F.ntile(3).over(w))
    d, c = F.col("direction"), F.col("cents")
    return (
        df.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            F.round(_oi_cents(d, c, F.col("tercile") == 1), 6).alias("oi_small"),
            F.round(_oi_cents(d, c, F.col("tercile") == 2), 6).alias("oi_medium"),
            F.round(_oi_cents(d, c, F.col("tercile") == 3), 6).alias("oi_large"),
        )
    )


# --------------------------------------------------------------------------
# J7 excess returns vs market
# --------------------------------------------------------------------------

_EXCESS_ORACLE = f"""
WITH ub AS (
  SELECT user_id, {bin_end_sql("ts", DELTA)} AS bin,
         CASE WHEN min_by(value, event_id) > 0 AND max_by(value, event_id) > 0 THEN ln(max_by(value, event_id)) - ln(min_by(value, event_id)) END AS log_ret
  FROM events GROUP BY 1, 2),
mb AS (
  SELECT {bin_end_sql("ts", DELTA)} AS bin,
         CASE WHEN min_by(value, event_id) > 0 AND max_by(value, event_id) > 0 THEN ln(max_by(value, event_id)) - ln(min_by(value, event_id)) END AS mkt_ret
  FROM events GROUP BY 1)
SELECT ub.user_id, ub.bin,
       round(ub.log_ret, 6) AS log_ret,
       round(mb.mkt_ret, 6) AS mkt_ret,
       round(ub.log_ret - mb.mkt_ret, 6) AS excess_ret
FROM ub JOIN mb ON ub.bin = mb.bin
"""


@register("excess_returns", oracle=_EXCESS_ORACLE)
def excess_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: per-key bin returns minus market (all-events) bin returns,
    joined explicitly on the bin (the reference's positional subtraction
    at order_imbalance.py:112 is a latent bug Spark must not replicate).
    Market side is tiny after aggregation -> broadcast."""
    e = load_table(spark, sf_dir, "events")
    fp = F.expr("min_by(value, event_id)")
    lp = F.expr("max_by(value, event_id)")
    ret = F.when((fp > 0) & (lp > 0), F.log(lp) - F.log(fp))
    ub = (
        e.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("user_id", "bin")
        .agg(ret.alias("log_ret"))
    )
    mb = (
        e.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(ret.alias("mkt_ret"))
    )
    return ub.join(F.broadcast(mb), "bin").select(
        "user_id",
        "bin",
        F.round("log_ret", 6).alias("log_ret"),
        F.round("mkt_ret", 6).alias("mkt_ret"),
        F.round(F.col("log_ret") - F.col("mkt_ret"), 6).alias("excess_ret"),
    )


# --------------------------------------------------------------------------
# J8 factor join (Fama-French shape): daily returns ⟕ factor dim
# --------------------------------------------------------------------------

_FACTOR_ORACLE = f"""
WITH r AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CASE WHEN min_by(value, event_id) > 0 AND max_by(value, event_id) > 0 THEN ln(max_by(value, event_id)) - ln(min_by(value, event_id)) END AS day_ret
  FROM events GROUP BY 1, 2),
f AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 / count(*) AS mkt_factor,
         sum(CAST(round(o_totalprice * (1 - 0.5) * 100) AS BIGINT)) / 100.0 / count(*)
             AS smb_factor
  FROM orders GROUP BY 1)
SELECT r.user_id, r.day, round(r.day_ret, 6) AS day_ret,
       round(f.mkt_factor, 6) AS mkt_factor,
       round(f.smb_factor, 6) AS smb_factor
FROM r LEFT JOIN f ON r.day = f.day
"""


@register("factor_join", oracle=_FACTOR_ORACLE)
def factor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: broadcast LEFT join of daily returns onto a small factor dim
    keyed by date (order_imbalance.py:116-129) — factor table derived
    here from orders so the oracle sees identical inputs."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    fp = F.expr("min_by(value, event_id)")
    lp = F.expr("max_by(value, event_id)")
    ret = F.when((fp > 0) & (lp > 0), F.log(lp) - F.log(fp))
    r = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(ret.alias("day_ret"))
    )
    cents = round_long(F.col("o_totalprice") * 100)
    half_cents = round_long(F.col("o_totalprice") * (1 - 0.5) * 100)
    f = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        (F.sum(cents) / 100.0 / F.count(F.lit(1))).alias("mkt_factor"),
        (F.sum(half_cents) / 100.0 / F.count(F.lit(1))).alias("smb_factor"),
    )
    return r.join(F.broadcast(f), "day", "left").select(
        "user_id",
        "day",
        F.round("day_ret", 6).alias("day_ret"),
        F.round("mkt_factor", 6).alias("mkt_factor"),
        F.round("smb_factor", 6).alias("smb_factor"),
    )


# --------------------------------------------------------------------------
# A5 resample mean/sum per class
# --------------------------------------------------------------------------

_RESAMPLE_ORACLE = f"""
SELECT {bin_end_sql("ts", DELTA)} AS bin,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_vis,
       sum(CASE WHEN event_type = 'purchase' THEN {CENTS_SQL} ELSE 0 END) / 100.0
           AS sum_vis,
       round(CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
             THEN (sum(CASE WHEN event_type = 'purchase' THEN {CENTS_SQL} ELSE 0 END)
                   / 100.0)
                  / count(CASE WHEN event_type = 'purchase' THEN 1 END) END, 6)
           AS mean_vis
FROM events GROUP BY 1
"""


@register("resample_mean_sum", oracle=_RESAMPLE_ORACLE)
def resample_mean_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: resample(delta).sum()/.mean() of a class's sizes
    (EDA_initial.ipynb cell 2) — conditional agg on the shared bin."""
    e = load_table(spark, sf_dir, "events")
    cents = round_long(F.col("value") * 100)
    is_vis = F.col("event_type") == "purchase"
    n_vis = F.count(F.when(is_vis, F.lit(1)))
    s_vis = F.sum(F.when(is_vis, cents).otherwise(F.lit(0))) / 100.0
    return (
        e.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            n_vis.alias("n_vis"),
            s_vis.alias("sum_vis"),
            F.round(F.when(n_vis > 0, s_vis / n_vis), 6).alias("mean_vis"),
        )
    )


# --------------------------------------------------------------------------
# A16 hidden/visible volume ratio
# --------------------------------------------------------------------------

_RATIO_ORACLE = f"""
SELECT {bin_end_sql("ts", DELTA)} AS bin,
  round(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN {CENTS_SQL} ELSE 0 END) <> 0
        THEN CAST(sum(CASE WHEN event_type = 'error' THEN {CENTS_SQL} ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN event_type = 'purchase' THEN {CENTS_SQL} ELSE 0 END) END, 6)
      AS hid_vis_ratio
FROM events GROUP BY 1
"""


@register("hid_vis_ratio", oracle=_RATIO_ORACLE)
def hid_vis_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: binned hidden volume ÷ visible volume (EDA.ipynb cell 41)
    — two conditional sums, one pass."""
    e = load_table(spark, sf_dir, "events")
    cents = round_long(F.col("value") * 100)
    hid = F.sum(F.when(F.col("event_type") == "error", cents).otherwise(F.lit(0)))
    vis = F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(F.lit(0)))
    return (
        e.withColumn("bin", bin_end("ts", DELTA))
        .groupBy("bin")
        .agg(
            F.round(
                F.when(vis != 0, hid.cast("double") / vis), 6
            ).alias("hid_vis_ratio")
        )
    )


# --------------------------------------------------------------------------
# A21-shape: multi-delta OI assembly (dict-of-deltas -> delta column)
# --------------------------------------------------------------------------

_DELTAS = (900, 3600, 21600)

_MULTI_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT CAST({d} AS BIGINT) AS delta_sec, bin, oi FROM (
  SELECT {bin_end_sql("ts", d)} AS bin,
         round({_oi_cents_sql("TRUE")}, 6) AS oi
  FROM ({EVENTS_LOB_SQL}) lob GROUP BY 1)
"""
    for d in _DELTAS
)


@register("multi_delta_oi", oracle=_MULTI_ORACLE)
def multi_delta_oi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 assembly shape: the reference's dict-of-DataFrames keyed by
    delta (chunk_pipeline.py:111,181-188) becomes one DataFrame with a
    delta column.

    Round 9 (guide §1.2/§6): the three per-delta branches used to be a
    UNION of three aggregations, each with its OWN scan of the fact
    table — scan reuse is not a thing Spark does, so the input was
    read three times. Now ONE scan explodes each row into its three
    (delta_sec, bin) keys and a single map-side-combinable aggregation
    groups by (delta_sec, bin): the exchange still carries only
    O(deltas x bins) partially-aggregated rows, and the fact is read
    once — at 100 TB that is 1/3 the I/O for the identical result set
    (same groups, same exact integer-cents aggregation per group)."""
    df = lob_cents(spark, sf_dir)
    d, c = F.col("direction"), F.col("cents")
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(delta).cast("long").alias("delta_sec"),
                    bin_end("ts", delta).alias("bin"),
                )
                for delta in _DELTAS
            ]
        )
    )
    return (
        df.select("direction", "cents", keys.alias("db"))
        .groupBy(
            F.col("db.delta_sec").alias("delta_sec"),
            F.col("db.bin").alias("bin"),
        )
        .agg(F.round(_oi_cents(d, c, F.lit(True)), 6).alias("oi"))
    )


# --------------------------------------------------------------------------
# A13 ACF of the hourly OI series
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 4, 5)

_ACF_ORACLE = f"""
WITH lob AS ({EVENTS_LOB_SQL}),
b AS (
  SELECT {bin_end_sql("ts", 3600)} AS bin,
         {_oi_cents_sql("TRUE")} AS oi
  FROM lob GROUP BY 1),
grid AS (
  SELECT unnest(generate_series((SELECT min(bin) FROM b),
                                (SELECT max(bin) FROM b),
                                INTERVAL 3600 SECOND)) AS bin),
s AS (
  SELECT g.bin, coalesce(b.oi, 0) AS oi FROM grid g LEFT JOIN b ON g.bin = b.bin),
l AS (
  SELECT oi,
         {", ".join(f"lag(oi, {k}) OVER (ORDER BY bin) AS oi_l{k}" for k in _ACF_LAGS)}
  FROM s)
{" UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS lag_k, round(corr(oi, oi_l{k}), 6) AS acf FROM l"
    for k in _ACF_LAGS
)}
"""


@register("oi_acf", oracle=_ACF_ORACLE)
def oi_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: autocorrelation of the densified OI series by lag
    (timeseries_analysis.ipynb cells 2-5) — lag columns + corr aggs on
    the already-tiny binned frame."""
    s = _oi_series(spark, sf_dir, 3600)
    w = Window.orderBy("bin")
    for k in _ACF_LAGS:
        s = s.withColumn(f"oi_l{k}", F.lag("oi", k).over(w))
    parts = [
        s.agg(F.round(F.corr("oi", f"oi_l{k}"), 6).alias("acf")).select(
            F.lit(k).cast("long").alias("lag_k"), "acf"
        )
        for k in _ACF_LAGS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
