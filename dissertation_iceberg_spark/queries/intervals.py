"""Interval-algebra operators: range/overlap join, sweep-line
concurrency, interval coalescing — plus a salted skew-join rider.

The reference's only temporal join is the as-of lookup
(``iceberg_detection.py`` merge_asof shape, already covered by
``iceberg_tag``/``asof_enrich``); this module adds the other classic
temporal-join family a general engine needs — INTERVAL OVERLAP — which
plain Spark has no native operator for (an ``ON a.s <= b.e AND b.s <=
a.e`` join compiles to a cartesian). The Spark-first answer is
time-band blocking: explode each interval into fixed-width bucket
memberships, equi-join on (group, bucket), and attribute every
surviving pair to ONE canonical bucket (the bucket of the later
start) so no de-duplicating ``distinct`` shuffle is ever needed.
That is the same banding trick published for range joins in
Databricks/Flink docs, expressed with plain DataFrame ops.

Intervals are derived from driver data: an order's *open interval* is
[o_orderdate, max(l_shipdate of its lines)] in whole epoch days —
orders whose synthetic shipdates precede the order date (negative
span) are filtered as invalid in BOTH engines.

Parity: every endpoint is an exact integer epoch-day (DuckDB
``date - date`` and Spark ``datediff`` agree by construction), so
counts, overlap-day sums, and sweep-line maxima are pure BIGINT
arithmetic — no floats anywhere except display-ready money columns
riding the usual integer-cents rail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros
from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

_EPOCH = "1970-01-01"
_BAND_DAYS = 512  # band width ~ median interval span: ≤3 buckets/interval

_IV_SQL = f"""
SELECT * FROM (
  SELECT o.o_orderkey AS ok, o.o_custkey AS ck,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '{_EPOCH}' AS BIGINT) AS s,
         CAST(max(CAST(l.l_shipdate AS DATE) - DATE '{_EPOCH}') AS BIGINT) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3)
WHERE e >= s
"""


def _intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, ck, s, e): per-order open interval in whole epoch days."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day = lambda c: F.datediff(F.col(c).cast("date"), F.lit(_EPOCH).cast("date"))
    return (
        o.select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("ck"),
            day("o_orderdate").cast("long").alias("s"),
        )
        .join(
            li.select(
                F.col("l_orderkey").alias("ok"),
                day("l_shipdate").cast("long").alias("ship"),
            ),
            "ok",
        )
        .groupBy("ok", "ck", "s")
        .agg(F.max("ship").alias("e"))
        .filter(F.col("e") >= F.col("s"))
    )


# --------------------------------------------------------------------------
# Interval overlap join (banded self-join, canonical-bucket attribution)
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = f"""
WITH iv AS ({_IV_SQL}),
p AS (
  SELECT a.ck, least(a.e, b.e) - greatest(a.s, b.s) + 1 AS od
  FROM iv a JOIN iv b
    ON a.ck = b.ck AND a.ok < b.ok AND a.s <= b.e AND b.s <= a.e)
SELECT ck AS o_custkey,
       CAST(count(*) AS BIGINT) AS n_overlap_pairs,
       CAST(sum(od) AS BIGINT) AS overlap_days
FROM p GROUP BY 1
"""


def banded_overlap_pairs(iv: DataFrame) -> DataFrame:
    """Band-blocked interval overlap self-join on (ck, band): emits one
    row per overlapping (ok, ok2) pair within a group, with s/e/s2/e2
    riding along. See :func:`interval_overlap_pairs` for the full
    operator story; ``tools/scale_exp.py`` measures this kernel
    key-scaled at 1×/10×/100×."""
    b = F.explode(
        F.sequence(
            F.floor(F.col("s") / _BAND_DAYS), F.floor(F.col("e") / _BAND_DAYS)
        )
    ).alias("band")
    left = iv.select("ok", "ck", "s", "e", b)
    right = left.select(
        F.col("ok").alias("ok2"),
        F.col("ck").alias("ck2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
        F.col("band").alias("band2"),
    )
    return left.join(
        right,
        (F.col("ck") == F.col("ck2"))
        & (F.col("band") == F.col("band2"))
        & (F.col("ok") < F.col("ok2"))
        & (F.col("s") <= F.col("e2"))
        & (F.col("s2") <= F.col("e"))
        & (
            F.col("band")
            == F.floor(F.greatest(F.col("s"), F.col("s2")) / _BAND_DAYS)
        ),
    )


@register("interval_overlap_pairs", oracle=_OVERLAP_ORACLE)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval overlap self-join: per customer, the number of
    pairs of simultaneously-open orders and their total days of
    overlap (inclusive endpoints).

    Spark-first shape (Spark has no range-join operator; the naive
    ``a.s <= b.e AND b.s <= a.e`` theta-join is a cartesian): band
    blocking. Each interval explodes into the ~(span/512d) time
    buckets it covers, pairs equi-join on (customer, bucket) — a
    plain shuffle join Catalyst plans like any other — and the
    overlap predicate plus CANONICAL-BUCKET attribution
    (bucket == ⌊max(s_a, s_b)/512⌋, the bucket where the overlap
    starts) keeps exactly one copy of each pair with no distinct
    shuffle. At 100 TB the band width bounds candidate fan-out to
    temporal neighbours regardless of how many orders one customer
    has; the group key alone could not (an unbounded-history customer
    would otherwise quadratically self-pair).

    Parity: endpoints are exact integer epoch-days in both engines;
    the oracle states the plain quadratic semantics, the Spark side
    must reproduce it exactly through the banding."""
    pairs = banded_overlap_pairs(_intervals(spark, sf_dir))
    od = F.least(F.col("e"), F.col("e2")) - F.greatest(F.col("s"), F.col("s2")) + 1
    return pairs.groupBy(F.col("ck").alias("o_custkey")).agg(
        F.count(F.lit(1)).alias("n_overlap_pairs"),
        F.sum(od).cast("long").alias("overlap_days"),
    )


# --------------------------------------------------------------------------
# Sweep-line: max concurrently-open orders per customer
# --------------------------------------------------------------------------

_PEAK_ENC = 100_000  # epoch-day < 1e5 for any date before year 2243

_CONCURRENT_ORACLE = f"""
WITH iv AS ({_IV_SQL}),
d AS (
  SELECT ck, s AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT ck, e + 1 AS day, -1 AS delta FROM iv),
per AS (
  SELECT ck, day, CAST(sum(delta) AS BIGINT) AS d
  FROM d GROUP BY 1, 2),
cum AS (
  SELECT ck, day,
         sum(d) OVER (PARTITION BY ck ORDER BY day) AS open
  FROM per),
enc AS (
  SELECT ck, max(open * {_PEAK_ENC} - day) AS k FROM cum GROUP BY 1)
SELECT ck AS o_custkey,
       CAST((k + {_PEAK_ENC} - 1) // {_PEAK_ENC} AS BIGINT) AS max_open,
       CAST((k + {_PEAK_ENC} - 1) // {_PEAK_ENC} * {_PEAK_ENC} - k
            AS BIGINT) AS peak_day
FROM enc
"""


@register("max_concurrent_intervals", oracle=_CONCURRENT_ORACLE)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: for each customer, the maximum number
    of orders simultaneously open on any single day, and the first
    day that peak is reached. The classic interval-concurrency
    operator (room-booking / sessions-in-flight / max parallelism).

    Shape: intervals become ±1 boundary events (+1 at s, −1 at e+1),
    netted per (customer, day) FIRST — so the running sum is
    day-granular and tie order between a same-day open and close can
    never matter — then one per-customer cumulative-sum window and a
    map-side-combinable max. Two shuffles on the customer key, both
    at O(boundary days) volume, never row-scale.

    Parity: argmax-with-tiebreak across engines uses the scalar-key
    encoding rail (DuckDB max_by needs a scalar): k = open·1e5 − day
    maximised as one BIGINT picks the highest concurrency and, within
    it, the EARLIEST day; both engines decode with the same ceil/
    floor integer arithmetic (epoch-day < 1e5 until year 2243)."""
    iv = _intervals(spark, sf_dir)
    deltas = iv.select("ck", F.col("s").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select("ck", (F.col("e") + 1).alias("day"), F.lit(-1).alias("delta"))
    )
    per = deltas.groupBy("ck", "day").agg(F.sum("delta").cast("long").alias("d"))
    w = Window.partitionBy("ck").orderBy("day")
    cum = per.select("ck", "day", F.sum("d").over(w).alias("open"))
    enc = cum.groupBy("ck").agg(
        F.max(F.col("open") * _PEAK_ENC - F.col("day")).alias("k")
    )
    mo = F.floor((F.col("k") + _PEAK_ENC - 1) / _PEAK_ENC)
    return enc.select(
        F.col("ck").alias("o_custkey"),
        mo.cast("long").alias("max_open"),
        (mo * _PEAK_ENC - F.col("k")).cast("long").alias("peak_day"),
    )


# --------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands over intervals)
# --------------------------------------------------------------------------

_COALESCE_ORACLE = f"""
WITH iv AS ({_IV_SQL}),
m AS (
  SELECT ck, s, e,
         max(e) OVER (PARTITION BY ck ORDER BY s, e, ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv),
isl AS (
  SELECT ck, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY ck ORDER BY s, e,
                 CASE WHEN prev_max IS NULL THEN 0 ELSE 1 END,
                 prev_max)
           AS island
  FROM m),
g AS (
  SELECT ck, island, min(s) AS cs, max(e) AS ce
  FROM isl GROUP BY 1, 2)
SELECT ck AS o_custkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(ce - cs + 1) AS BIGINT) AS covered_days,
       CAST(max(ce - cs + 1) AS BIGINT) AS longest_island_days
FROM g GROUP BY 1
"""


@register("interval_coalesce", oracle=_COALESCE_ORACLE)
def interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (union of overlapping/adjacent intervals):
    merge each customer's open-order intervals into maximal covered
    islands and report islands, total covered days, and the longest
    island. Gaps-and-islands generalised from points to INTERVALS —
    the building block behind uptime/coverage/exposure metrics (and,
    at corpus scale, merging byte-span annotations).

    Shape: one per-customer sort-window pass — running max of
    interval end over earlier intervals (island breaks where the next
    start clears it; adjacency s = prev_max+1 still merges, matching
    inclusive-day semantics), a running-sum island id, then two
    map-side-combinable aggregates. Everything shuffles once on the
    customer key; window frames are O(orders per customer).

    Parity note: the island-id running sum must order identically in
    both engines even when two intervals share (s, e) — the window
    adds the island-break flag and prev_max as deterministic
    tiebreaks so the cumulative numbering is engine-independent (the
    island PARTITION result is order-insensitive, but DuckDB and
    Spark must still agree row-by-row on the running sum)."""
    iv = _intervals(spark, sf_dir)
    ws = Window.partitionBy("ck").orderBy("s", "e", "ok")
    m = iv.select(
        "ck",
        "s",
        "e",
        F.max("e").over(ws.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "prev_max"
        ),
    )
    brk = F.when(
        F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max") + 1), 1
    ).otherwise(0)
    wi = Window.partitionBy("ck").orderBy(
        "s",
        "e",
        F.when(F.col("prev_max").isNull(), 0).otherwise(1),
        "prev_max",
    )
    isl = m.select("ck", "s", "e", F.sum(brk).over(wi).alias("island"))
    g = isl.groupBy("ck", "island").agg(
        F.min("s").alias("cs"), F.max("e").alias("ce")
    )
    span = F.col("ce") - F.col("cs") + 1
    return g.groupBy(F.col("ck").alias("o_custkey")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(span).cast("long").alias("covered_days"),
        F.max(span).cast("long").alias("longest_island_days"),
    )


# --------------------------------------------------------------------------
# Salted skew join (hot-key mitigation, result-identical to a plain join)
# --------------------------------------------------------------------------

_SALT = 8

_SALTED_ORACLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@register("salted_skew_join", oracle=_SALTED_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: event facts joined to the customer dim on
    a SKEWED key, with the hot-key fan-in split 8 ways — the standard
    mitigation when the dim is too large to broadcast and one key
    would otherwise funnel through a single reducer. Result is
    bit-identical to the plain join (the oracle states the plain
    join); the salt is pure plumbing.

    Shape: the fact side derives a deterministic salt (event_id mod
    8) — no rand(), so the query stays replayable and
    oracle-checkable — and the dim side explodes ×8 so every
    (key, salt) partition holds its join partner. The join is hinted
    merge/shuffle (a broadcast would defeat the demonstration; AQE
    would otherwise auto-broadcast the small fixture dim). Each
    shuffled partition now carries ≤1/8 of any hot key's rows. The
    post-join rollup is map-side-combinable, so the salt never
    reaches the output."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        round_long(F.col("value") * 100).alias("cents"),
        F.pmod(F.col("event_id"), F.lit(_SALT)).cast("int").alias("salt"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)).cast("array<int>"))
        )
        .hint("merge")
    )
    j = ev.join(
        dim,
        (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


# --------------------------------------------------------------------------
# Nearest-event temporal join (bidirectional as-of)
# --------------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS k
  FROM events WHERE event_type IN ('click', 'purchase')),
w AS (
  SELECT event_id, user_id, us, k,
         max(CASE WHEN k = 0 THEN us END) OVER (
           PARTITION BY user_id ORDER BY us, k, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
         min(CASE WHEN k = 0 THEN us END) OVER (
           PARTITION BY user_id ORDER BY us, k, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
  FROM e)
SELECT event_id, user_id, us,
  CAST(us - prev_us AS BIGINT) AS prev_dus,
  CAST(next_us - us AS BIGINT) AS next_dus,
  CAST(least(coalesce(us - prev_us, next_us - us),
             coalesce(next_us - us, us - prev_us)) AS BIGINT) AS nearest_dus,
  CASE
    WHEN prev_us IS NULL AND next_us IS NULL THEN 'none'
    WHEN next_us IS NULL THEN 'prev'
    WHEN prev_us IS NULL THEN 'next'
    WHEN us - prev_us <= next_us - us THEN 'prev'
    ELSE 'next' END AS direction
FROM w WHERE k = 1
"""


@register("nearest_event_join", oracle=_NEAREST_ORACLE)
def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of ("nearest-neighbor in time") join: each
    purchase is matched to its temporally nearest click for the same
    user — backward OR forward, whichever is closer (ties prefer
    backward, the classic attribution convention).  Generalizes the
    backward-only as-of (operators/iceberg.py:31) the same way
    pandas' merge_asof(direction='nearest') generalizes 'backward'.

    Scale shape: no join at all — the two streams are unioned and
    resolved with two frame-bounded windows per user (prev = running
    max of click-times, next = reversed running min), exactly the
    union-window as-of pattern that made iceberg_tag O(n).  One
    shuffle on user_id; ordering (us, kind, event_id) is total, so a
    click at the purchase's own microsecond deterministically counts
    as 'prev' in both engines.
    """
    e = (
        spread(load_table(spark, sf_dir, "events"))
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            micros("ts").alias("us"),
            F.when(F.col("event_type") == "click", F.lit(0))
            .otherwise(F.lit(1))
            .alias("k"),
        )
    )
    order = [F.col("us"), F.col("k"), F.col("event_id")]
    wprev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the "reversed running min" the docstring promises, literally: a
    # (currentRow, unboundedFollowing) frame executes as Spark's
    # UnboundedFollowing frame — a rescan to the partition end per
    # row, O(rows²) per user (round 8); min is order-insensitive, so
    # the running frame over the reversed total order is identical
    wnext = (
        Window.partitionBy("user_id")
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_us = F.when(F.col("k") == 0, F.col("us"))
    w = e.select(
        "event_id",
        "user_id",
        "us",
        "k",
        F.max(click_us).over(wprev).alias("prev_us"),
        F.min(click_us).over(wnext).alias("next_us"),
    )
    prev_d = F.col("us") - F.col("prev_us")
    next_d = F.col("next_us") - F.col("us")
    return w.filter(F.col("k") == 1).select(
        "event_id",
        "user_id",
        "us",
        prev_d.cast("long").alias("prev_dus"),
        next_d.cast("long").alias("next_dus"),
        F.least(F.coalesce(prev_d, next_d), F.coalesce(next_d, prev_d))
        .cast("long")
        .alias("nearest_dus"),
        F.when(
            F.col("prev_us").isNull() & F.col("next_us").isNull(), "none"
        )
        .when(F.col("next_us").isNull(), "prev")
        .when(F.col("prev_us").isNull(), "next")
        .when(prev_d <= next_d, "prev")
        .otherwise("next")
        .alias("direction"),
    )
