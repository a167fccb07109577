"""Lakehouse write-path queries: CDC latest-state merge and z-order
clustering — the table-maintenance operations a 100 TB corpus store
runs continuously (compaction planning lives in
``queries/corpus_ops.write_plan``).

Both are exact integer/window arithmetic, so the DuckDB oracles match
bit-for-bit with no float tricks needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros
from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

# --------------------------------------------------------------------------
# CDC latest-state merge (MERGE INTO snapshot semantics)
# --------------------------------------------------------------------------

_CDC_ORACLE = """
WITH log AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         event_type = 'error' AS is_delete,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY us DESC, event_id DESC) AS rn
  FROM log)
SELECT user_id, event_id AS last_event_id, us AS last_us, cents AS last_cents
FROM ranked WHERE rn = 1 AND NOT is_delete
"""


@register("cdc_latest_state", oracle=_CDC_ORACLE)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: collapse a keyed change log to its final snapshot —
    latest row per key wins, keys whose latest op is a delete
    ('error' events stand in for tombstones) drop out. This is MERGE
    INTO / upsert-compaction semantics expressed as one row_number
    window: a single shuffle on the key, no join against the base
    table at all. At 100 TB the same plan incrementally folds a day's
    change log into a snapshot partition; ties break on event_id so
    replays are deterministic."""
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "event_id",
        micros("ts").alias("us"),
        (F.col("event_type") == "error").alias("is_delete"),
        round_long(F.col("value") * 100).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("is_delete"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("us").alias("last_us"),
            F.col("cents").alias("last_cents"),
        )
    )


# --------------------------------------------------------------------------
# SCD Type-2: versioned dimension build + point-in-time fact join
# --------------------------------------------------------------------------

_SCD2_VERSIONS_ORACLE = """
WITH chg AS (
  SELECT user_id, us, max_by(cents, event_id) AS cents
  FROM (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'signup')
  GROUP BY 1, 2)
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version_no,
       us AS valid_from_us,
       lead(us) OVER w AS valid_to_us,
       cents,
       CAST(lead(us) OVER w IS NULL AS BIGINT) AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY us)
"""


@register("scd2_versions", oracle=_SCD2_VERSIONS_ORACLE)
def scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: each 'signup' change event becomes
    a version row with a [valid_from, valid_to) interval — valid_to is
    the next change's timestamp (NULL = current) — the effective-dated
    dimension shape every warehouse keeps for late-arriving fact
    joins. Changes are first deduped to one per (user_id, us) with a
    deterministic max_by(event_id) winner (same tie discipline as
    asof_enrich), so version numbering is replay-stable.

    Scale shape: one shuffle on the dimension key, then row_number +
    lead over the same window spec (Catalyst evaluates both in a
    single WindowExec pass). Dimension churn, not fact volume, drives
    the cost — exactly what you want at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    chg = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", micros("ts").alias("us"))
        .agg(
            F.max_by(
                round_long(F.col("value") * 100), F.col("event_id")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("user_id").orderBy("us")
    return chg.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version_no"),
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        "cents",
        F.lead("us").over(w).isNull().cast("long").alias("is_current"),
    )


_SCD2_PIT_ORACLE = """
WITH chg AS (
  SELECT user_id, us, max_by(cents, event_id) AS cents
  FROM (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'signup')
  GROUP BY 1, 2),
dim AS (
  SELECT user_id, us AS valid_from_us,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY us)
              AS BIGINT) AS version_no,
         cents
  FROM chg),
fact AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS fact_cents
  FROM events WHERE event_type = 'purchase')
SELECT d.version_no,
       count(*) AS n_purchases,
       CAST(sum(f.fact_cents) AS BIGINT) AS revenue_cents,
       CAST(sum(d.cents) AS BIGINT) AS version_cents_sum
FROM fact f ASOF JOIN dim d
  ON f.user_id = d.user_id AND f.us >= d.valid_from_us
GROUP BY 1
"""


@register("scd2_pit_join", oracle=_SCD2_PIT_ORACLE)
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact join against the SCD2 dimension: each
    purchase matches the version in effect at its timestamp (the one
    whose [valid_from, valid_to) interval covers it), rolled up per
    version number — the query that proves the effective-dated join is
    an AS-OF, not an interval range join. Purchases before a user's
    first version drop out (inner semantics), matching the oracle's
    ASOF JOIN.

    Spark-side: the proven union+window formulation — version rows and
    facts interleave in ONE window partitioned by user_id ordered by
    (us, tag), running last_value(ignorenulls) carries the in-effect
    version onto each fact row. One shuffle, linear per partition;
    never a BroadcastNestedLoop interval join."""
    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    cents = round_long(F.col("value") * 100)
    chg = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", us.alias("us"))
        .agg(F.max_by(cents, F.col("event_id")).alias("cents"))
    )
    vw = Window.partitionBy("user_id").orderBy("us")
    dim = chg.select(
        "user_id",
        "us",
        F.lit(0).alias("tag"),
        F.row_number().over(vw).cast("long").alias("version_no"),
        F.col("cents").alias("dim_cents"),
        F.lit(None).cast("long").alias("fact_cents"),
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("us"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("version_no"),
        F.lit(None).cast("long").alias("dim_cents"),
        cents.alias("fact_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = dim.unionByName(fact).select(
        "tag",
        "fact_cents",
        F.last("version_no", ignorenulls=True).over(w).alias("version_no"),
        F.last("dim_cents", ignorenulls=True).over(w).alias("dim_cents"),
    )
    return (
        tagged.filter((F.col("tag") == 1) & F.col("version_no").isNotNull())
        .groupBy("version_no")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("fact_cents").cast("long").alias("revenue_cents"),
            F.sum("dim_cents").cast("long").alias("version_cents_sum"),
        )
    )


# --------------------------------------------------------------------------
# Z-order clustering (data-skipping layout audit)
# --------------------------------------------------------------------------

_ZBITS = 8  # 8 bits per dimension -> 16-bit z-values, 256 clusters

_Z_EXPR_DUCK = " + ".join(
    f"(((u8 >> {i}) & 1) * 2 + ((d8 >> {i}) & 1)) * {4**i}"
    for i in range(_ZBITS)
)

_ZORDER_ORACLE = f"""
WITH base AS (
  SELECT user_id % 256 AS u8,
         (epoch_us(ts) // 86400000000) % 256 AS d8,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
z AS (SELECT {_Z_EXPR_DUCK} AS zval, u8, d8, cents FROM base)
SELECT zval // 256 AS cluster_id,
       count(*) AS n_events,
       count(DISTINCT u8) AS n_user_buckets,
       count(DISTINCT d8) AS n_day_buckets,
       min(zval) AS z_min,
       max(zval) AS z_max,
       CAST(sum(cents) AS BIGINT) AS cents
FROM z GROUP BY 1
"""


@register("zorder_clusters", oracle=_ZORDER_ORACLE)
def zorder_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit: interleave 8 bits of the user
    bucket with 8 bits of the day bucket and group rows into 256
    z-ranges — the layout a clustered rewrite would sort by so scans
    filtered on EITHER dimension skip ~sqrt of the files instead of
    none. The per-cluster distinct counts are the locality evidence
    (each z-range touches ≤16 buckets per dimension, not 256). Bit
    interleaving is exact integer arithmetic (shift/and/multiply) —
    identical in both engines; the whole query is map-side expressions
    plus one 256-group aggregate."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        (F.col("user_id") % 256).alias("u8"),
        (F.floor(micros("ts") / F.lit(86_400_000_000)) % 256).alias("d8"),
        round_long(F.col("value") * 100).alias("cents"),
    )
    zval = None
    for i in range(_ZBITS):
        term = (
            F.shiftright(F.col("u8"), i).bitwiseAND(F.lit(1)) * 2
            + F.shiftright(F.col("d8"), i).bitwiseAND(F.lit(1))
        ) * F.lit(4**i)
        zval = term if zval is None else zval + term
    z = base.select(zval.alias("zval"), "u8", "d8", "cents")
    return (
        z.groupBy(F.floor(F.col("zval") / 256).alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("u8").alias("n_user_buckets"),
            F.countDistinct("d8").alias("n_day_buckets"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
            F.sum("cents").alias("cents"),
        )
    )


# --------------------------------------------------------------------------
# Time travel: snapshot reconstruction AS OF a point in time (round 3)
# --------------------------------------------------------------------------

# mid-range cutoff: the fixture's events span ~1 month from 2024-01-01
_TT_ASOF = "2024-01-15 00:00:00"

_TT_ORACLE = f"""
WITH log AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         event_type = 'error' AS is_delete,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE ts <= TIMESTAMP '{_TT_ASOF}'),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY us DESC, event_id DESC) AS rn
  FROM log)
SELECT user_id, event_id AS last_event_id, us AS last_us, cents AS last_cents
FROM ranked WHERE rn = 1 AND NOT is_delete
"""


@register("snapshot_time_travel", oracle=_TT_ORACLE)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct the keyed table's state AS OF a past
    timestamp from the change log — the query-level core of
    Iceberg/Delta snapshot reads, expressed directly on the log: the
    as-of filter + latest-row-per-key window + tombstone drop.

    Scale shape: identical to cdc_latest_state (one key-partitioned
    window, no base-table join) with one decisive addition — the AS OF
    predicate is pushed to the parquet scan (PushedFilters on ts), so
    a time-travel read over a date-partitioned 100 TB log prunes every
    partition after the cutoff before any row moves."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_TT_ASOF).cast("timestamp")
    log = e.filter(F.col("ts") <= cutoff).select(
        "user_id",
        "event_id",
        micros("ts").alias("us"),
        (F.col("event_type") == "error").alias("is_delete"),
        round_long(F.col("value") * 100).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("is_delete"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("us").alias("last_us"),
            F.col("cents").alias("last_cents"),
        )
    )


# --------------------------------------------------------------------------
# Snapshot diff: keyed table state AS OF t1 vs AS OF t2 (CDC between reads)
# --------------------------------------------------------------------------

_DIFF_T1 = "2024-01-10 00:00:00"
_DIFF_T2 = "2024-01-20 00:00:00"

_DIFF_ORACLE = f"""
WITH log AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, ts,
         event_type = 'error' AS is_delete,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
s1 AS (
  SELECT user_id, cents FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY us DESC, event_id DESC) AS rn
    FROM log WHERE ts <= TIMESTAMP '{_DIFF_T1}')
  WHERE rn = 1 AND NOT is_delete),
s2 AS (
  SELECT user_id, cents FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY us DESC, event_id DESC) AS rn
    FROM log WHERE ts <= TIMESTAMP '{_DIFF_T2}')
  WHERE rn = 1 AND NOT is_delete)
SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s2.user_id IS NULL THEN 'deleted'
            WHEN s1.cents <> s2.cents THEN 'changed'
            ELSE 'unchanged' END AS change,
       count(*) AS n_keys,
       CAST(sum(coalesce(s2.cents, 0) - coalesce(s1.cents, 0)) AS BIGINT)
         AS cents_delta
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
GROUP BY 1
"""


@register("snapshot_diff", oracle=_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the read side of a change data feed): reconstruct
    the keyed state AS OF two timestamps and classify every key as
    added / deleted / changed / unchanged, with the net value delta —
    what an incremental consumer reads instead of re-scanning the
    table. Pairs with snapshot_time_travel (one snapshot) and
    cdc_latest_state (the current one).

    Scale shape: both snapshots are the same one-window latest-row
    reduction (cutoffs pushed to the scan), and the FULL OUTER join
    keys on user_id — the SAME key as the windows, so the whole plan
    rides one partitioning end-to-end; the classification rollup has 4
    keys. An engine-native change feed would replace the two replays
    with log segment reads between the timestamps — the consumer-side
    contract (this output) is identical."""
    e = load_table(spark, sf_dir, "events")

    def snap(cutoff: str) -> DataFrame:
        log = e.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp")).select(
            "user_id",
            "event_id",
            micros("ts").alias("us"),
            (F.col("event_type") == "error").alias("is_delete"),
            round_long(F.col("value") * 100).alias("cents"),
        )
        w = Window.partitionBy("user_id").orderBy(
            F.desc("us"), F.desc("event_id")
        )
        return (
            log.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & ~F.col("is_delete"))
            .select("user_id", "cents")
        )

    s1 = snap(_DIFF_T1).select(
        F.col("user_id").alias("k1"), F.col("cents").alias("c1")
    )
    s2 = snap(_DIFF_T2).select(
        F.col("user_id").alias("k2"), F.col("cents").alias("c2")
    )
    j = s1.join(s2, F.col("k1") == F.col("k2"), "full_outer")
    change = (
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("deleted"))
        .when(F.col("c1") != F.col("c2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(change.alias("change")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            F.coalesce(F.col("c2"), F.lit(0)) - F.coalesce(F.col("c1"), F.lit(0))
        )
        .cast("long")
        .alias("cents_delta"),
    )


# --------------------------------------------------------------------------
# GDPR delete propagation audit (cascading erasure cost, per table)
# --------------------------------------------------------------------------

# deterministic deletion cohort: content-hash sampling of user ids
# (~1/16 of users), the same zero-RNG discipline as deterministic_sample
_GDPR_MOD = 16

_GDPR_ORACLE = f"""
WITH cohort AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
        % {_GDPR_MOD} = 0),
ev AS (
  SELECT count(*) AS n FROM events e
  WHERE EXISTS (SELECT 1 FROM cohort c WHERE c.user_id = e.user_id)),
co AS (
  SELECT count(*) AS n FROM customer c
  WHERE EXISTS (SELECT 1 FROM cohort g WHERE g.user_id = c.c_custkey)),
od AS (
  SELECT count(*) AS n FROM orders o
  WHERE EXISTS (SELECT 1 FROM cohort g WHERE g.user_id = o.o_custkey)),
li AS (
  SELECT count(*) AS n FROM lineitem l
  WHERE EXISTS (
    SELECT 1 FROM orders o
    JOIN cohort g ON o.o_custkey = g.user_id
    WHERE o.o_orderkey = l.l_orderkey))
SELECT 'events' AS tbl, CAST(n AS BIGINT) AS n_rows_to_purge FROM ev
UNION ALL SELECT 'customer', CAST(n AS BIGINT) FROM co
UNION ALL SELECT 'orders', CAST(n AS BIGINT) FROM od
UNION ALL SELECT 'lineitem', CAST(n AS BIGINT) FROM li
"""


@register("gdpr_delete_audit", oracle=_GDPR_ORACLE)
def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: for a deletion cohort (selected
    by deterministic content-hash sampling — reproducible with zero
    RNG state), count the rows each table must purge, following the
    foreign-key cascade one hop deep (cohort -> orders -> lineitem).
    This is the planning query a lakehouse runs before a delete-compact
    cycle: purge volume decides between copy-on-write rewrites and
    merge-on-read delete files per table.

    Scale shape: the cohort is an O(users/{m}) key set — every probe
    is a LEFT SEMI join against it (broadcast at this cohort size;
    shuffle-semi beyond), so no fact table ever widens or moves more
    than its join key; the lineitem hop semi-joins against the already
    cohort-filtered orders keys. Counts are 1-row aggregates unioned
    into the audit report.""".format(m=_GDPR_MOD)
    from dissertation_iceberg_spark.functions.hashing import hash60

    e = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cohort = (
        e.select("user_id")
        .distinct()
        .filter(hash60(F.col("user_id").cast("string")) % _GDPR_MOD == 0)
    )
    ev_n = (
        e.join(F.broadcast(cohort), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    co_n = (
        cust.join(
            F.broadcast(cohort.select(F.col("user_id").alias("c_custkey"))),
            "c_custkey",
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    cohort_orders = orders.join(
        F.broadcast(cohort.select(F.col("user_id").alias("o_custkey"))),
        "o_custkey",
        "left_semi",
    )
    od_n = cohort_orders.agg(F.count(F.lit(1)).alias("n"))
    li_n = (
        li.join(
            cohort_orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    rows = [
        ev_n.select(F.lit("events").alias("tbl"), F.col("n").cast("long").alias("n_rows_to_purge")),
        co_n.select(F.lit("customer").alias("tbl"), F.col("n").cast("long").alias("n_rows_to_purge")),
        od_n.select(F.lit("orders").alias("tbl"), F.col("n").cast("long").alias("n_rows_to_purge")),
        li_n.select(F.lit("lineitem").alias("tbl"), F.col("n").cast("long").alias("n_rows_to_purge")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Zone-map file-skipping audit (data-skipping effectiveness, per file)
# --------------------------------------------------------------------------

# probe predicate: a user-id range scan, the dimension day files are
# NOT organized by — the interesting case for a skipping audit
_SKIP_USER_LO = 40
_SKIP_USER_HI = 60

_SKIP_ORACLE = f"""
WITH files AS (
  SELECT date_trunc('day', ts) AS file_day,
         count(*) AS n_rows,
         min(user_id) AS u_min,
         max(user_id) AS u_max
  FROM events GROUP BY 1)
SELECT file_day, n_rows, u_min, u_max,
       CAST(u_max >= {_SKIP_USER_LO} AND u_min <= {_SKIP_USER_HI} AS BIGINT)
         AS scanned
FROM files
"""


@register("file_skipping_audit", oracle=_SKIP_ORACLE)
def file_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping audit: simulate day-partitioned files,
    compute each file's (min, max) zone map on user_id, and mark which
    files a user-range predicate would actually scan — the
    data-skipping effectiveness report behind every Iceberg/Delta
    layout decision. On this layout the audit shows user-keyed scans
    skip ~nothing (every day sees most users) — which is precisely the
    evidence that justifies a z-order rewrite (zorder_clusters audits
    the layout that fixes it; the two queries are the before/after
    pair).

    Scale shape: zone maps are one map-side-combinable aggregate per
    file group (real deployments read them from manifest metadata —
    zero data scan); the overlap classification is a per-row integer
    predicate on the O(files) frame."""
    e = load_table(spark, sf_dir, "events")
    files = e.groupBy(F.date_trunc("day", F.col("ts")).alias("file_day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
    )
    return files.select(
        "file_day",
        "n_rows",
        "u_min",
        "u_max",
        (
            (F.col("u_max") >= _SKIP_USER_LO)
            & (F.col("u_min") <= _SKIP_USER_HI)
        )
        .cast("long")
        .alias("scanned"),
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance: base state (+) delta == recompute
# --------------------------------------------------------------------------

_IAM_T1 = "2024-01-10 00:00:00"  # base materialization cutoff
_IAM_T2 = "2024-01-20 00:00:00"  # delta horizon

# the oracle RECOMPUTES from scratch over ts <= T2 — hash-matching it
# proves the incremental base (+) delta path is exactly equivalent
_IAM_ORACLE = f"""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(epoch_us(ts)) AS last_us
FROM events
WHERE ts <= TIMESTAMP '{_IAM_T2}'
GROUP BY 1
"""


@register("incremental_agg_merge", oracle=_IAM_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a keyed aggregate: a
    materialized per-user state (count, sum, max) built from the log
    up to T1, merged with the (T1, T2] delta batch by a FULL OUTER
    combine — counts and sums add, max takes greatest. The ORACLE
    recomputes the aggregate from scratch over ts <= T2, so the
    driver's hash gate itself proves base (+) delta == recompute:
    the algebraic property that lets a 100 TB pipeline fold each
    day's partition into yesterday's rollup instead of rescanning
    history.

    Scale shape: the base would be a stored table in production (here
    both sides prune their scan range via pushed timestamp filters);
    only the DELTA pays a fact-scale aggregate at merge time, and the
    outer join keys on user_id — the same key as both aggregates, so
    AQE rides one partitioning end-to-end. All state is
    integer-additive (the mergeability contract every incremental
    aggregate needs; avg/stddev would ride as (sum, count) /
    (sum, sum2, count) pairs)."""
    e = load_table(spark, sf_dir, "events")

    def agg_range(lo: str | None, hi: str) -> DataFrame:
        f = F.col("ts") <= F.lit(hi).cast("timestamp")
        if lo is not None:
            f = f & (F.col("ts") > F.lit(lo).cast("timestamp"))
        return (
            e.filter(f)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(round_long(F.col("value") * 100))
                .cast("long")
                .alias("sum_cents"),
                F.max(micros("ts")).alias("last_us"),
            )
        )

    base = agg_range(None, _IAM_T1).select(
        F.col("user_id").alias("bk"),
        F.col("n_events").alias("bn"),
        F.col("sum_cents").alias("bs"),
        F.col("last_us").alias("bl"),
    )
    delta = agg_range(_IAM_T1, _IAM_T2).select(
        F.col("user_id").alias("dk"),
        F.col("n_events").alias("dn"),
        F.col("sum_cents").alias("ds"),
        F.col("last_us").alias("dl"),
    )
    return (
        base.join(delta, F.col("bk") == F.col("dk"), "full_outer")
        .select(
            F.coalesce(F.col("bk"), F.col("dk")).alias("user_id"),
            (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("long")
            .alias("n_events"),
            (F.coalesce(F.col("bs"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
            .cast("long")
            .alias("sum_cents"),
            F.greatest(F.col("bl"), F.col("dl")).alias("last_us"),
        )
    )


# --------------------------------------------------------------------------
# Referential-integrity audit: orphan rates across every FK edge
# --------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)

_FK_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{label}' AS fk_edge,
       (SELECT count(*) FROM {child}) AS n_child,
       (SELECT count(*) FROM {child} c
        WHERE NOT EXISTS (
          SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans"""
    for label, child, fk, parent, pk in _FK_EDGES
)


@register("fk_integrity_audit", oracle=_FK_ORACLE)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge of the star schema — the data-quality gate a lakehouse runs
    after each ingest batch (alongside table_profile's per-column
    stats and the zone-map/compaction planners). All-zero orphans on
    the driver fixture; the query's job is to PROVE that cheaply at
    every batch.

    Scale shape: each edge is a LEFT ANTI equi-join counted to one
    row — dims broadcast, so the three lineitem edges are scans with
    broadcast probes (no fact shuffle); the six one-row results union
    into the report. At 100 TB the audit cost is one pass per child
    table, amortizable by auditing only the new partitions."""
    out = None
    for label, child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk)
        row = (
            c.select(F.col(fk))
            .join(F.broadcast(p), F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .transform(with_scalars, c.agg(F.count(F.lit(1)).alias("n_child")))
            .select(
                F.lit(label).alias("fk_edge"),
                "n_child",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# Range-partition planner (balanced boundaries for a cluster total sort)
# --------------------------------------------------------------------------

_RANGE_N_PARTS = 8

_RANGE_PLAN_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
dv AS (SELECT cents, count(*) AS cnt FROM c GROUP BY 1),
cum AS (
  SELECT cents, cnt, sum(cnt) OVER (ORDER BY cents) AS inc_cum FROM dv),
n AS (SELECT count(*) AS n_rows FROM c),
t AS (
  SELECT k, CAST(ceil(k * n_rows / {_RANGE_N_PARTS}e0) AS BIGINT) AS target
  FROM range(1, {_RANGE_N_PARTS}) r(k) CROSS JOIN n)
SELECT CAST(k AS BIGINT) AS k, target,
  min(cents) AS boundary_cents,
  CAST(min(inc_cum) AS BIGINT) AS cum_at_boundary
FROM t JOIN cum ON cum.inc_cum >= t.target
GROUP BY 1, 2
"""


@register("range_partition_plan", oracle=_RANGE_PLAN_ORACLE)
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition boundary planner: the k/{0} quantile split
    points of order value that a cluster total sort (or a sorted-table
    write) would range-partition on, each with its exact target rank
    and achieved cumulative row count — what Spark's RangePartitioner
    estimates by sampling, computed exactly so the plan is
    deterministic and auditable (skewed boundaries surface as
    cum_at_boundary far past target).

    Scale shape: collapse to distinct values first (map-side
    combinable), inclusive prefix sums via the bucketed two-pass
    cumsum machinery (functions/ranks.py — NO global per-row sort),
    then each of the {1} boundary targets probes the O(distinct)
    cumulative table through a broadcast nested-loop on ≤{1} rows and
    a min-aggregation picks the first crossing. Integer cents + exact
    integer ranks throughout.""".format(_RANGE_N_PARTS, _RANGE_N_PARTS - 1)
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )

    c = load_table(spark, sf_dir, "orders").select(
        round_long(F.col("o_totalprice") * 100).alias("cents")
    )
    dv = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum = bucketed_exclusive_cumsums(dv, "cents", ["cnt"]).select(
        "cents", (F.col("cum_cnt") + F.col("cnt")).alias("inc_cum")
    )
    n = c.agg(F.count(F.lit(1)).alias("n_rows"))
    t = (
        spark.range(1, _RANGE_N_PARTS)
        .toDF("k")
        .transform(with_scalars, n)
        .select(
            "k",
            F.ceil(F.col("k") * F.col("n_rows") / float(_RANGE_N_PARTS))
            .cast("long")
            .alias("target"),
        )
    )
    return (
        cum.transform(explode_grid, t).filter(F.col("inc_cum") >= F.col("target"))
        .groupBy("k", "target")
        .agg(
            F.min("cents").alias("boundary_cents"),
            F.min("inc_cum").cast("long").alias("cum_at_boundary"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "target",
            "boundary_cents",
            "cum_at_boundary",
        )
    )


# --------------------------------------------------------------------------
# Column-encoding advisor (dictionary/RLE planning for a sorted rewrite)
# --------------------------------------------------------------------------

_ENC_ORACLE = """
WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
per AS (
  SELECT 'l_returnflag' AS col_name, count(DISTINCT l_returnflag) AS n_distinct
  FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', count(DISTINCT l_linestatus) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', count(DISTINCT l_suppkey) FROM lineitem
  UNION ALL
  SELECT 'l_partkey', count(DISTINCT l_partkey) FROM lineitem)
SELECT col_name,
  (SELECT CAST(n_rows AS BIGINT) FROM n) AS n_rows,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  round(CAST(n_distinct AS DOUBLE) / (SELECT n_rows FROM n), 6)
    AS distinct_ratio,
  CAST(CASE WHEN ceil(ln(n_distinct + 1) / ln(2e0)) < 1
            THEN 1 ELSE ceil(ln(n_distinct + 1) / ln(2e0)) END AS BIGINT)
    AS dict_bits,
  CASE WHEN n_distinct * 20 < (SELECT n_rows FROM n)
       THEN 'dictionary+rle' ELSE 'plain' END AS recommendation
FROM per
"""


@register("encoding_advisor", oracle=_ENC_ORACLE)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor for a sorted table rewrite: per-column
    distinct counts, the dictionary index width they imply, and a
    dictionary/RLE recommendation when cardinality is <5% of rows —
    the planning read that precedes the z-order/compaction entries
    (a column worth sorting by is exactly one whose dictionary+RLE
    run count collapses).

    Scale shape: each count-distinct is one map-side-combinable
    aggregation over a single scanned column (Spark rewrites
    count(DISTINCT) into a two-stage expand+agg; at 100 TB the
    approx HLL entry `hll_distinct` is the cheap pre-screen). All
    outputs are exact integers plus one deterministic division."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.agg(F.count(F.lit(1)).alias("n_rows"))
    parts = []
    for col_name in ("l_returnflag", "l_linestatus", "l_suppkey", "l_partkey"):
        parts.append(
            li.agg(
                F.lit(col_name).alias("col_name"),
                F.countDistinct(col_name).alias("n_distinct"),
            )
        )
    per = parts[0]
    for p in parts[1:]:
        per = per.unionByName(p)
    dict_bits = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.log(F.col("n_distinct") + 1) / F.log(F.lit(2.0))).cast(
            "long"
        ),
    )
    return per.transform(with_scalars, n).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(
            F.col("n_distinct").cast("double") / F.col("n_rows"), 6
        ).alias("distinct_ratio"),
        dict_bits.alias("dict_bits"),
        F.when(
            F.col("n_distinct") * 20 < F.col("n_rows"), "dictionary+rle"
        )
        .otherwise("plain")
        .alias("recommendation"),
    )


# --------------------------------------------------------------------------
# Join-size estimation from per-key histograms (CBO-style, with skew)
# --------------------------------------------------------------------------

_JSE_ORACLE = """
WITH co AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
cc AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1),
co_li AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
oo AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
e1 AS (
  SELECT CAST(sum(co.c * cc.c) AS BIGINT) AS est,
         CAST(max(co.c * cc.c) AS BIGINT) AS max_key
  FROM co JOIN cc USING (k)),
e2 AS (
  SELECT CAST(sum(co_li.c * oo.c) AS BIGINT) AS est,
         CAST(max(co_li.c * oo.c) AS BIGINT) AS max_key
  FROM co_li JOIN oo USING (k)),
a1 AS (SELECT count(*) AS actual
       FROM orders JOIN customer ON o_custkey = c_custkey),
a2 AS (SELECT count(*) AS actual
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT 'customer_orders' AS join_edge, est, max_key,
       CAST(actual AS BIGINT) AS actual
FROM e1 CROSS JOIN a1
UNION ALL
SELECT 'orders_lineitem', est, max_key, CAST(actual AS BIGINT)
FROM e2 CROSS JOIN a2
"""


@register("join_size_estimate", oracle=_JSE_ORACLE)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO-style join-cardinality estimation from per-key count
    histograms: |A ⋈ B| = Σ_k cA(k)·cB(k), plus the max single-key
    contribution (the skew red flag AQE skew-join would split) —
    verified against the actual join count in the same result (for
    exact histograms the estimate is an identity; with sketched
    histograms at 100 TB it becomes the planner estimate this query's
    shape validates).

    Scale shape: two map-side-combinable per-key rollups per edge plus
    one O(distinct keys) equi-join — the estimate never materializes
    the join; the verification arm does (and exists only to pin the
    identity). All counts exact BIGINTs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def edge(name, left, lk, right, rk):
        lh = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("cl")
        )
        rh = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cr")
        )
        est = lh.join(rh, "k").agg(
            F.sum(F.col("cl") * F.col("cr")).cast("long").alias("est"),
            F.max(F.col("cl") * F.col("cr")).cast("long").alias("max_key"),
        )
        actual = (
            left.join(right, F.col(lk) == F.col(rk))
            .agg(F.count(F.lit(1)).cast("long").alias("actual"))
        )
        return est.transform(with_scalars, actual).select(
            F.lit(name).alias("join_edge"), "est", "max_key", "actual"
        )

    return edge("customer_orders", o, "o_custkey", c, "c_custkey").unionByName(
        edge("orders_lineitem", li, "l_orderkey", o, "o_orderkey")
    )


# --------------------------------------------------------------------------
# Constraint mining (deequ-style data-quality suggestion pass)
# --------------------------------------------------------------------------

_CM_NUMERIC = ("o_orderkey", "o_custkey", "o_totalprice")
_CM_STRING = ("o_orderstatus", "o_orderpriority")


def _cm_oracle() -> str:
    arms = []
    for c in _CM_NUMERIC:
        arms.append(f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
  count(*) - count({c}) AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  CAST(round(min({c}) * 1e6) AS BIGINT) AS min_micro,
  CAST(round(max({c}) * 1e6) AS BIGINT) AS max_micro
FROM orders""")
    for c in _CM_STRING:
        arms.append(f"""
SELECT '{c}', count(*), count(*) - count({c}),
  count(DISTINCT {c}), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM orders""")
    union = " UNION ALL ".join(arms)
    return f"""
WITH per AS ({union})
SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_nulls AS BIGINT) AS n_nulls,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  min_micro, max_micro,
  concat_ws(',',
    CASE WHEN n_nulls = 0 THEN 'not_null' END,
    CASE WHEN n_distinct = n_rows - n_nulls THEN 'unique' END,
    CASE WHEN n_distinct <= 10 THEN 'low_cardinality' END)
    AS suggested
FROM per
"""


@register("constraint_suggestions", oracle=_cm_oracle())
def constraint_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint mining over the orders table: per-column
    row/null/distinct counts, numeric bounds in integer micro-units,
    and the constraints the profile supports (not_null, unique,
    low_cardinality) — the suggestion pass that seeds a data-quality
    gate; `fk_integrity_audit` then checks the relational constraints
    this pass can't see.

    Scale shape: one aggregation pass per column over a single scanned
    column each (count-distinct rewrites into Spark's two-stage
    expand); the advice table is O(columns). Numeric bounds
    micro-round once so no raw double crosses the engine boundary."""
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _CM_NUMERIC:
        parts.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.round(F.min(c).cast("double") * 1e6)
                .cast("long")
                .alias("min_micro"),
                F.round(F.max(c).cast("double") * 1e6)
                .cast("long")
                .alias("max_micro"),
            )
        )
    for c in _CM_STRING:
        parts.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.lit(None).cast("long").alias("min_micro"),
                F.lit(None).cast("long").alias("max_micro"),
            )
        )
    per = parts[0]
    for p in parts[1:]:
        per = per.unionByName(p)
    return per.select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_micro",
        "max_micro",
        F.concat_ws(
            ",",
            F.when(F.col("n_nulls") == 0, "not_null"),
            F.when(
                F.col("n_distinct") == F.col("n_rows") - F.col("n_nulls"),
                "unique",
            ),
            F.when(F.col("n_distinct") <= 10, "low_cardinality"),
        ).alias("suggested"),
    )


# --------------------------------------------------------------------------
# JSON schema profiling (semi-structured column introspection)
# --------------------------------------------------------------------------

_JSON_PROFILE_ORACLE = """
WITH k AS (
  SELECT unnest(json_keys(props)) AS key_name, props FROM events
  WHERE props IS NOT NULL),
v AS (
  SELECT key_name,
    json_extract_string(props, '$.' || key_name) AS sval
  FROM k)
SELECT key_name,
  CAST(count(*) AS BIGINT) AS n_present,
  CAST(sum(CASE WHEN TRY_CAST(sval AS BIGINT) IS NOT NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_integer,
  CAST(count(DISTINCT sval) AS BIGINT) AS n_distinct,
  CAST(min(TRY_CAST(sval AS BIGINT)) AS BIGINT) AS min_int,
  CAST(max(TRY_CAST(sval AS BIGINT)) AS BIGINT) AS max_int
FROM v GROUP BY 1
"""


@register("json_schema_profile", oracle=_JSON_PROFILE_ORACLE)
def json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference over the semi-structured `props` JSON column:
    per discovered key, presence count, how many values parse as
    integers, distinct cardinality, and integer bounds — the
    profiling pass that decides which JSON paths deserve promotion to
    real columns (the 'schematize the hot paths' lakehouse
    migration).

    Scale shape: key discovery and value extraction are per-row JVM
    expressions (json_object_keys + get_json_object, no Python);
    everything aggregates map-side-combinably by key name. At 100 TB
    the key-name groupBy has tiny cardinality, so the shuffle carries
    only partial counters."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    k = e.select(
        F.explode(F.json_object_keys("props")).alias("key_name"), "props"
    )
    v = k.select(
        "key_name",
        F.expr(
            "get_json_object(props, concat('$.', key_name))"
        ).alias("sval"),
    )
    ival = F.expr("try_cast(sval AS BIGINT)")
    return v.groupBy("key_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.sum(F.when(ival.isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_integer"),
        F.countDistinct("sval").cast("long").alias("n_distinct"),
        F.min(ival).cast("long").alias("min_int"),
        F.max(ival).cast("long").alias("max_int"),
    )


# --------------------------------------------------------------------------
# Zone-map / min-max file-skipping audit (round 3)
# --------------------------------------------------------------------------

# Synthetic file layout: lineitem split into files of 1000 consecutive
# orderkeys (the natural ingest order), zone map = per-file min/max of
# the two hottest scan predicates' columns.  Predicates are encoded as
# closed ranges over a unified BIGINT domain (shipdate as epoch days,
# quantity in integer units).
_FILE_KEYS = 1000
_SKIP_PREDS = (
    # (pred_id, column, lo, hi) — closed ranges; bounds in domain units
    (1, "ship_day", 10958, 999999),   # l_shipdate >= 2000-01-01
    (2, "ship_day", 0, 9496),         # l_shipdate <= 1995-12-31
    (3, "qty", 46, 999999),           # l_quantity > 45
    (4, "qty", 1, 5),                 # l_quantity <= 5
)

_SKIP_PRED_SQL = " UNION ALL ".join(
    f"SELECT {pid} AS pred_id, '{col}' AS col, CAST({lo} AS BIGINT) AS lo, "
    f"CAST({hi} AS BIGINT) AS hi"
    for pid, col, lo, hi in _SKIP_PREDS
)

_FILE_SKIP_ORACLE = f"""
WITH rows_ AS (
  SELECT l_orderkey // {_FILE_KEYS} AS file_id,
         CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS ship_day,
         CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem),
files AS (
  SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
         min(ship_day) AS ship_lo, max(ship_day) AS ship_hi,
         min(qty) AS qty_lo, max(qty) AS qty_hi
  FROM rows_ GROUP BY 1),
preds AS ({_SKIP_PRED_SQL}),
audit AS (
  SELECT p.pred_id,
         CASE WHEN (p.col = 'ship_day' AND (f.ship_hi < p.lo OR f.ship_lo > p.hi))
                OR (p.col = 'qty' AND (f.qty_hi < p.lo OR f.qty_lo > p.hi))
              THEN 1 ELSE 0 END AS skipped,
         f.n_rows
  FROM preds p CROSS JOIN files f)
SELECT pred_id,
  CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(skipped) AS BIGINT) AS n_files_skipped,
  CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
  CAST(sum(skipped * n_rows) AS BIGINT) AS n_rows_skipped,
  CAST(round(CAST(sum(skipped) AS DOUBLE) / count(*) * 1e6) AS BIGINT) / 1e6
    AS file_skip_ratio
FROM audit GROUP BY 1
"""


@register("file_skipping_stats", oracle=_FILE_SKIP_ORACLE)
def file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness audit: lay lineitem out as synthetic
    1000-orderkey files, build each file's min/max zone map over the
    two hottest predicate columns (ship date as epoch days, integer
    quantity), and report — per candidate scan predicate — how many
    files (and rows) min/max pruning would skip.  This is the
    data-layout feedback loop behind zorder_clusters: the z-order
    audit says how clustered the layout IS, this says what that
    clustering BUYS per predicate.

    Scale shape: the zone-map build is one map-side-combinable
    aggregate (fact-scale -> O(files)); the predicate audit is a
    4-row broadcast against the O(files) stats frame — at a real 100
    TB table this is exactly a metadata-only manifest scan, never
    touching data.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") / _FILE_KEYS).cast("long").alias("file_id"),
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("ship_day"),
        round_long(F.col("l_quantity")).alias("qty"),
    )
    files = li.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("ship_day").alias("ship_lo"),
        F.max("ship_day").alias("ship_hi"),
        F.min("qty").alias("qty_lo"),
        F.max("qty").alias("qty_hi"),
    )
    preds = spark.createDataFrame(
        [(pid, col, lo, hi) for pid, col, lo, hi in _SKIP_PREDS],
        "pred_id long, col string, lo long, hi long",
    )
    skipped = (
        (F.col("col") == "ship_day")
        & ((F.col("ship_hi") < F.col("lo")) | (F.col("ship_lo") > F.col("hi")))
    ) | (
        (F.col("col") == "qty")
        & ((F.col("qty_hi") < F.col("lo")) | (F.col("qty_lo") > F.col("hi")))
    )
    audit = files.transform(explode_grid, preds).select(
        "pred_id",
        F.when(skipped, F.lit(1)).otherwise(F.lit(0)).alias("skipped"),
        "n_rows",
    )
    return audit.groupBy("pred_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("skipped").cast("long").alias("n_files_skipped"),
        F.sum("n_rows").cast("long").alias("n_rows_total"),
        F.sum(F.col("skipped") * F.col("n_rows"))
        .cast("long")
        .alias("n_rows_skipped"),
        (
            F.round(
                F.sum("skipped").cast("double") / F.count(F.lit(1)) * 1e6
            ).cast("long")
            / 1e6
        ).alias("file_skip_ratio"),
    )


# --------------------------------------------------------------------------
# SCD2 dimension build (round 4): change log -> versioned validity rows
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH log AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type AS state
  FROM events),
changes AS (
  SELECT user_id, us, state FROM (
    SELECT user_id, us, state,
           lag(state) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS prev_state
    FROM log)
  WHERE prev_state IS NULL OR state <> prev_state),
versions AS (
  SELECT user_id, state,
         CAST(row_number() OVER w AS BIGINT) AS version,
         us AS valid_from_us,
         lead(us) OVER w AS valid_to_us
  FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY us))
SELECT user_id, version, state,
       CAST(valid_from_us AS BIGINT) AS valid_from_us,
       CAST(valid_to_us AS BIGINT) AS valid_to_us,
       CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM versions
"""


@register("scd2_dimension", oracle=_SCD2_ORACLE)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from an event change
    log: consecutive duplicate states compact away (the classic SCD
    pre-step — only transitions create versions), each surviving
    change opens a validity interval [valid_from, valid_to) closed by
    the next change, open-ended rows flagged current. This is the
    warehouse-dimension twin of the CDC family (streaming/cdc) on the
    batch surface.

    Scale shape: two user-partitioned window passes (lag to detect
    transitions, lead+row_number to close intervals) — no join, no
    global window; at 100 TB both windows ride ONE user_id shuffle
    (Spark reuses the partitioning across the two sorts). Times ride
    as exact epoch-µs integers (the repo's timestamp-parity
    convention); ties broken by event_id."""
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        micros("ts").alias("us"),
        "event_id",
        F.col("event_type").alias("state"),
    )
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = (
        log.withColumn("prev_state", F.lag("state").over(wl))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "us", "state")
    )
    wv = Window.partitionBy("user_id").orderBy("us")
    return changes.select(
        "user_id",
        F.row_number().over(wv).cast("long").alias("version"),
        "state",
        F.col("us").cast("long").alias("valid_from_us"),
        F.lead("us").over(wv).cast("long").alias("valid_to_us"),
        F.when(F.lead("us").over(wv).isNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_current"),
    )


_SCD2_ASOF_TS = "2024-01-20 00:00:00"

_SCD2_ASOF_ORACLE = f"""
WITH log AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type AS state
  FROM events),
changes AS (
  SELECT user_id, us, state FROM (
    SELECT user_id, us, state,
           lag(state) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS prev_state
    FROM log)
  WHERE prev_state IS NULL OR state <> prev_state),
versions AS (
  SELECT user_id, state,
         us AS valid_from_us,
         lead(us) OVER (PARTITION BY user_id ORDER BY us) AS valid_to_us
  FROM changes)
SELECT user_id, state,
       CAST(valid_from_us AS BIGINT) AS valid_from_us
FROM versions
WHERE valid_from_us <= epoch_us(TIMESTAMP '{_SCD2_ASOF_TS}')
  AND (valid_to_us IS NULL
       OR valid_to_us > epoch_us(TIMESTAMP '{_SCD2_ASOF_TS}'))
"""


@register("scd2_asof_lookup", oracle=_SCD2_ASOF_ORACLE)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each user's ACTIVE SCD2 version
    at a fixed as-of timestamp — the consumer side of scd2_dimension
    (time-travel over a versioned dim without snapshotting it). One
    interval predicate over the versioned frame; at 100 TB with the
    dim partitioned on valid_from date the predicate prunes
    partitions, and exactly one row per user survives by
    construction (intervals are disjoint)."""
    probe_us = F.lit(_SCD2_ASOF_TS).cast("timestamp_ntz")
    probe = micros(probe_us)
    dim = scd2_dimension(spark, sf_dir)
    return dim.filter(
        (F.col("valid_from_us") <= probe)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > probe))
    ).select("user_id", "state", "valid_from_us")


# --------------------------------------------------------------------------
# Incremental JOIN maintenance: base + three delta terms == recompute
# --------------------------------------------------------------------------

_IJM_T1 = "1995-06-01"  # base materialization cutoff
_IJM_T2 = "1997-01-01"  # delta horizon

# the oracle RECOMPUTES the full join aggregate at T2 — hash-matching
# it proves the delta-join decomposition is exactly equivalent
_IJM_ORACLE = f"""
SELECT o_custkey,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate <= DATE '{_IJM_T2}'
  AND l_shipdate <= DATE '{_IJM_T2}'
GROUP BY 1
"""


@register("incremental_join_merge", oracle=_IJM_ORACLE)
def incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN aggregate (the
    companion to ``incremental_agg_merge``, which maintains a keyed
    aggregate): the per-customer order-revenue view over
    orders |><| lineitem at snapshot T2 is maintained from the T1
    materialization plus the three delta-join terms of the classic
    IVM identity

        delta(A |><| B) = dA |><| B0  u  A0 |><| dB  u  dA |><| dB

    (orders split on o_orderdate, lineitem on l_shipdate at T1; the
    splits PARTITION each input, so the four-term union is exactly
    the T2 join). The ORACLE recomputes the full join from scratch,
    so the driver's hash gate itself proves the decomposition — the
    identity that lets a 100 TB pipeline join each day's increment
    against (much smaller) delta-bounded slices instead of re-joining
    two full histories.

    Scale shape: in production the A0 |><| B0 term IS the stored view
    (zero cost at merge time) — here it is recomputed to keep the
    query self-contained, with the cost honestly visible. Every term
    is an equi-join on the orderkey with pushed date filters on both
    scans; the delta terms join delta-bounded inputs only. All four
    terms and the final groupBy(custkey) rollup ride integer cents,
    so the cross-term sum is exact and order-free."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a0 = o.filter(F.col("o_orderdate") <= F.lit(_IJM_T1))
    da = o.filter(
        (F.col("o_orderdate") > F.lit(_IJM_T1))
        & (F.col("o_orderdate") <= F.lit(_IJM_T2))
    )
    b0 = li.filter(F.col("l_shipdate") <= F.lit(_IJM_T1))
    db = li.filter(
        (F.col("l_shipdate") > F.lit(_IJM_T1))
        & (F.col("l_shipdate") <= F.lit(_IJM_T2))
    )
    cents = round_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    )

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("o_orderkey", "o_custkey")
            .join(
                b.select("l_orderkey", cents.alias("cents")),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("o_custkey", "cents")
        )

    allterms = (
        term(a0, b0)
        .unionAll(term(da, b0))
        .unionAll(term(a0, db))
        .unionAll(term(da, db))
    )
    return allterms.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
