"""Multi-dimensional aggregation and set-operator surface: ROLLUP /
CUBE / GROUPING SETS ids, pivot (long->wide), INTERSECT / EXCEPT.

The reference reaches these shapes imperatively (nested groupby loops
and boolean masks over pandas frames, e.g. the per-priority/per-status
breakdown loops in ``portfolio_strategy_statistics.ipynb`` cells 18-22);
declared as ROLLUP/CUBE they collapse to ONE shuffle producing every
grouping level at once — Spark expands grouping sets map-side, so the
subtotal rows ride the same exchange as the leaf rows. Monetary sums
use the integer-cents trick throughout (exact under any aggregation
order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

_ROLLUP_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus,
       GROUPING(o_orderpriority, o_orderstatus) AS gid,
       count(*) AS n_orders,
       sum({_CENTS}) / 1e2 AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@register("revenue_rollup", oracle=_ROLLUP_ORACLE)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, status): leaf, per-priority subtotal and
    grand-total rows from one pass. grouping_id disambiguates genuine
    NULL dimension values from rolled-up levels — the standard SQL
    answer to the reference's loop-of-groupbys."""
    o = load_table(spark, sf_dir, "orders")
    cents = round_long(F.col("o_totalprice") * 100)
    return (
        o.select("o_orderpriority", "o_orderstatus", cents.alias("cents"))
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / F.lit(1e2)).alias("total_price"),
        )
    )


_CUBE_ORACLE = f"""
SELECT year(o_orderdate) AS order_year, o_orderstatus,
       GROUPING(year(o_orderdate), o_orderstatus) AS gid,
       count(*) AS n_orders,
       sum({_CENTS}) / 1e2 AS total_price
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
"""


@register("status_year_cube", oracle=_CUBE_ORACLE)
def status_year_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, status): all four grouping sets — (year,
    status), (year), (status), () — in one shuffle. The marginal cost
    over a plain groupBy is the grouping-set expansion factor, not
    extra passes over the fact table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("order_year"),
            "o_orderstatus",
            round_long(F.col("o_totalprice") * 100).alias("cents"),
        )
        .cube("order_year", "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / F.lit(1e2)).alias("total_price"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
WITH o AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT day,
  {", ".join(
    f"count(*) FILTER (WHERE event_type = '{t}') AS {t}_n, "
    f"coalesce(sum(cents) FILTER (WHERE event_type = '{t}'), 0) / 1e2 "
    f"AS {t}_value"
    for t in _EVENT_TYPES
  )}
FROM o GROUP BY day
"""


@register("event_type_pivot", oracle=_PIVOT_ORACLE)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): per-day event counts and value by type as
    columns. The pivot value list is pinned so the schema is static —
    at scale an unpinned pivot needs an extra distinct pass just to
    discover columns, and a schema that drifts with the data."""
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    cols = [F.col("day")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"))
        cols.append(
            (F.coalesce(F.col(f"{t}_cents"), F.lit(0)) / F.lit(1e2)).alias(
                f"{t}_value"
            )
        )
    return wide.select(*cols)


_SPLIT_YEAR = 1998  # orders span 1995-2001; split into two eras

_INTERSECT_ORACLE = f"""
SELECT o_custkey FROM orders WHERE year(o_orderdate) < {_SPLIT_YEAR}
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) >= {_SPLIT_YEAR}
"""


@register("repeat_buyers_intersect", oracle=_INTERSECT_ORACLE)
def repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers active in both eras.
    Compiles to an aggregate-then-join on the single key column — the
    shuffle carries distinct keys only, never order rows."""
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.year("o_orderdate") < _SPLIT_YEAR).select("o_custkey")
    late = o.filter(F.year("o_orderdate") >= _SPLIT_YEAR).select("o_custkey")
    return early.intersect(late)


_EXCEPT_ORACLE = f"""
SELECT o_custkey FROM orders WHERE year(o_orderdate) < {_SPLIT_YEAR}
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) >= {_SPLIT_YEAR}
"""


@register("lapsed_buyers_except", oracle=_EXCEPT_ORACLE)
def lapsed_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers who bought early but never
    again — the churn complement of the intersect, same narrow
    distinct-key shuffle (DataFrame.subtract = EXCEPT DISTINCT)."""
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.year("o_orderdate") < _SPLIT_YEAR).select("o_custkey")
    late = o.filter(F.year("o_orderdate") >= _SPLIT_YEAR).select("o_custkey")
    return early.subtract(late)


_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_UNPIVOT_ORACLE = f"""
WITH long AS (
  {" UNION ALL ".join(
    f"SELECT l_returnflag, '{m}' AS measure, {m} AS val FROM lineitem"
    for m in _MEASURES
  )})
SELECT l_returnflag, measure, count(*) AS n,
       sum(CAST(round(val * 1e4) AS BIGINT)) / 1e4 AS total,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM long GROUP BY 1, 2
"""


@register("measure_unpivot_stats", oracle=_UNPIVOT_ORACLE)
def measure_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the melt inverse of the pivot): all four
    lineitem measures stacked into (measure, value) rows, then profiled
    per return flag. Spark compiles unpivot to a map-side Expand — ONE
    scan of the fact table, where the naive long-form rewrite (the
    oracle's UNION ALL) reads it once per measure."""
    l = load_table(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_returnflag"],
        values=_MEASURES,
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(round_long(F.col("val") * 1e4)) / F.lit(1e4)).alias(
            "total"
        ),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
    )


_GSETS_ORACLE = f"""
SELECT o_orderpriority, year(o_orderdate) AS order_year,
       GROUPING(o_orderpriority, year(o_orderdate)) AS gid,
       count(*) AS n_orders,
       sum({_CENTS}) / 1e2 AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, year(o_orderdate)),
                        (o_orderpriority), (year(o_orderdate)))
"""


@register("priority_grouping_sets", oracle=_GSETS_ORACLE)
def priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct GROUPING SETS — an asymmetric set list ((priority, year),
    (priority), (year)) that neither ROLLUP nor CUBE can express (no
    grand total, both one-dim margins). Uses the first-class
    DataFrame.groupingSets API; like rollup/cube it expands map-side
    and rides ONE exchange for all three levels."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
        round_long(F.col("o_totalprice") * 100).alias("cents"),
    )
    return d.groupingSets(
        [
            ["o_orderpriority", "order_year"],
            ["o_orderpriority"],
            ["order_year"],
        ],
        "o_orderpriority",
        "order_year",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents") / F.lit(1e2)).alias("total_price"),
    )


# --------------------------------------------------------------------------
# Salted two-stage aggregation: the hot-key mitigation, oracle-identical
# --------------------------------------------------------------------------

_SALT_BUCKETS = 16
_SALT_TOPK = 25


_SALTED_ORACLE = f"""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY 1
ORDER BY n_events DESC, user_id
LIMIT {_SALT_TOPK}
"""


@register("salted_topk_users", oracle=_SALTED_ORACLE)
def salted_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation: pre-aggregate on
    (user_id, salt = event_id % {b}) so a hot key's rows land on {b}
    reducers, then merge the {b} partials per key — the manual skew
    mitigation for pre-AQE engines and for aggregations AQE's skew
    handling doesn't cover (AQE splits skewed JOIN partitions, not
    aggregate build sides). The oracle is the PLAIN aggregate:
    hash-matching proves salting is semantically invisible, which is
    the whole point — counts and integer sums re-merge losslessly
    (any associative state does: (sum, count), min/max, sketches).

    Scale: stage 1 shuffles (key x salt) — hot keys spread {b}-ways;
    stage 2 shuffles O(distinct keys x {b}) partials, tiny by
    comparison. Top-k is TakeOrderedAndProject.""".format(b=_SALT_BUCKETS)
    e = load_table(spark, sf_dir, "events")
    stage1 = (
        e.select(
            "user_id",
            (F.col("event_id") % _SALT_BUCKETS).alias("salt"),
            round_long(F.col("value") * 100).alias("cents"),
        )
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("cents").cast("long").alias("pc"),
        )
    )
    return (
        stage1.groupBy("user_id")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.sum("pc").cast("long").alias("cents"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(_SALT_TOPK)
    )


# --------------------------------------------------------------------------
# Dialect-portable SQL: ONE statement executed verbatim by both engines
# --------------------------------------------------------------------------

_SHARED_SHIPPING_SQL = """
SELECT l_returnflag,
  date_trunc('month', l_shipdate) AS ship_month,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS gross_cents,
  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        / 100.0, 6) AS gross
FROM lineitem
GROUP BY l_returnflag, date_trunc('month', l_shipdate)
"""


@register("sql_shared_shipping_report", oracle=_SHARED_SHIPPING_SQL)
def sql_shared_shipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly gross by return flag — implemented as ``spark.sql`` over
    registered temp views executing the EXACT string the DuckDB oracle
    runs (the dialect-portable subset: date_trunc, CAST, round,
    integer-cent sums). Demonstrates the engine's SQL-first surface:
    every other registry entry builds the plan with the DataFrame API;
    this one proves the same catalog/views route works and that the
    repo's parity conventions define a portable SQL dialect.

    Scale shape: Catalyst plans the string identically to the
    DataFrame equivalent — pushdown, partial aggregation, one shuffle
    on the (flag, month) key."""
    from dissertation_iceberg_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SHIPPING_SQL)
