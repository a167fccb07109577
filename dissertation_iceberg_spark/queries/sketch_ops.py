"""Probabilistic-sketch operators (round 3): count-min heavy-hitter
estimation and a Bloom-filter membership audit — the bounded-state
primitives a 100 TB pipeline uses where exact state would be
unbounded (per-token counters, per-key membership). Both are built on
the portable md5-derived hash family (functions/hashing.py), so the
DuckDB oracles replay the sketches EXACTLY — estimates and all — not
just their contracts.

Complements the existing approx machinery: HLL approx distinct
(vocab_stats' scale path) sketches cardinality; count-min sketches
frequency; Bloom sketches membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.hashing import (
    hash60,
    hash60_sql,
    seeded_hash60_col,
    seeded_hash60_col_sql,
)
from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import r6, round_long

_TOKENS = "list_filter(str_split(text, ' '), x -> x <> '')"


# thin aliases over the shared family (functions/hashing.py) so a
# digest swap there reaches the sketches and the streaming twin too
_seeded_hash_col = seeded_hash60_col
_seeded_hash_sql = seeded_hash60_col_sql


# --------------------------------------------------------------------------
# Count-min sketch: heavy-hitter estimates vs exact counts
# --------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 1024
_CM_TOPK = 20

_CM_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKENS}) AS tok FROM documents),
cells AS (
  SELECT r.d, {_seeded_hash_sql("r.d", "tok")} % {_CM_WIDTH} AS cell,
         count(*) AS n
  FROM toks CROSS JOIN range({_CM_DEPTH}) r(d)
  GROUP BY 1, 2),
top AS (
  SELECT tok, count(*) AS true_n FROM toks
  GROUP BY 1 ORDER BY true_n DESC, tok LIMIT {_CM_TOPK}),
probes AS (
  SELECT t.tok, t.true_n, r.d,
         {_seeded_hash_sql("r.d", "t.tok")} % {_CM_WIDTH} AS cell
  FROM top t CROSS JOIN range({_CM_DEPTH}) r(d))
SELECT p.tok, CAST(any_value(p.true_n) AS BIGINT) AS true_n,
       CAST(min(c.n) AS BIGINT) AS est_n,
       CAST(min(c.n) - any_value(p.true_n) AS BIGINT) AS overcount
FROM probes p JOIN cells c ON c.d = p.d AND c.cell = p.cell
GROUP BY 1
"""


@register("countmin_heavy_hitters", oracle=_CM_ORACLE)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit: a {depth}x{width} counter sketch over
    the token stream, read back for the exact top-{k} tokens —
    est_n = min over rows of the hashed cell, overcount = collision
    inflation (always >= 0; the count-min guarantee est >= true is
    what makes it a safe pre-filter for heavy-hitter detection).

    Scale shape: the sketch build is ONE map-side-combinable aggregate
    whose key space is bounded at depth x width = {cells} cells
    regardless of corpus size — partial maps never exceed that, and
    the final sketch fits anywhere (this is the point of a sketch: at
    100 TB the exact per-token groupBy shuffles O(vocab) rows, the
    sketch shuffles O({cells})). The readout joins a broadcast
    O(top-k x depth) probe frame against the sketch. The exact top-k
    here is the audit baseline; production reads candidates straight
    off the sketch.""".format(
        depth=_CM_DEPTH, width=_CM_WIDTH, k=_CM_TOPK, cells=_CM_DEPTH * _CM_WIDTH
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("tok")
    )
    ds = F.array(*[F.lit(d) for d in range(_CM_DEPTH)])
    cells = (
        toks.select("tok", F.explode(ds).alias("d"))
        .select(
            "d",
            (_seeded_hash_col(F.col("d"), F.col("tok")) % _CM_WIDTH).alias("cell"),
        )
        .groupBy("d", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("tok"))
        .limit(_CM_TOPK)
    )
    probes = top.select("tok", "true_n", F.explode(ds).alias("d")).select(
        "tok",
        "true_n",
        "d",
        (_seeded_hash_col(F.col("d"), F.col("tok")) % _CM_WIDTH).alias("cell"),
    )
    return (
        cells.join(F.broadcast(probes), ["d", "cell"])
        .groupBy("tok")
        .agg(
            F.any_value("true_n").cast("long").alias("true_n"),
            F.min("n").cast("long").alias("est_n"),
            (F.min("n") - F.any_value("true_n")).cast("long").alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Bloom filter: build on one source, probe per source (FPR audit)
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16
_BLOOM_K = 4
_BLOOM_BUILD_SOURCE = "src0"  # driver fixture sources: src0..src19


_BLOOM_ORACLE = f"""
WITH keys AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents),
bits AS (
  SELECT DISTINCT ({_seeded_hash_sql("r.i", "fp")}) % {_BLOOM_BITS} AS bit
  FROM keys CROSS JOIN range({_BLOOM_K}) r(i)
  WHERE source = '{_BLOOM_BUILD_SOURCE}'),
probe AS (
  SELECT k.doc_id, k.source, r.i,
         ({_seeded_hash_sql("r.i", "k.fp")}) % {_BLOOM_BITS} AS bit
  FROM keys k CROSS JOIN range({_BLOOM_K}) r(i)),
hits AS (
  SELECT p.doc_id, any_value(p.source) AS source,
         count(b.bit) AS n_set
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY 1)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_set = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       round(CAST(sum(CASE WHEN n_set = {_BLOOM_K} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hit_rate
FROM hits GROUP BY 1
"""


@register("bloom_membership_audit", oracle=_BLOOM_ORACLE)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: build a {k}-hash/{m}-bit filter
    over one source's content fingerprints, probe every source —
    the build source hits 100% (no false negatives, the Bloom
    contract); other sources' hit rate IS the measured false-positive
    rate, the number a pipeline uses to size m before trusting the
    filter to gate a 100 TB anti-join.

    Scale shape: the filter is BOUNDED state — at most {m} distinct
    bit rows no matter how many build keys (the relational encoding of
    an 8 KiB bitmap) — so it broadcasts to every probe task; the probe
    is a per-row hash + broadcast membership join, one pass, no
    shuffle of the probed corpus. The n_set = k readback mirrors the
    bitmap AND.""".format(k=_BLOOM_K, m=_BLOOM_BITS)
    docs = spread(load_table(spark, sf_dir, "documents"))
    keys = docs.select("doc_id", "source", F.md5(F.col("text")).alias("fp"))
    idx = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    bits = (
        keys.filter(F.col("source") == _BLOOM_BUILD_SOURCE)
        .select(F.explode(idx).alias("i"), "fp")
        .select(
            (_seeded_hash_col(F.col("i"), F.col("fp")) % _BLOOM_BITS).alias("bit")
        )
        .distinct()
        .withColumn("__set", F.lit(1))
    )
    probe = keys.select("doc_id", "source", "fp", F.explode(idx).alias("i")).select(
        "doc_id",
        "source",
        (_seeded_hash_col(F.col("i"), F.col("fp")) % _BLOOM_BITS).alias("bit"),
    )
    hits = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count("__set").alias("n_set"),
        )
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_set") == _BLOOM_K).cast("int"))
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.sum((F.col("n_set") == _BLOOM_K).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate"),
    )


# --------------------------------------------------------------------------
# Hash-priority reservoir: deterministic uniform k-sample
# --------------------------------------------------------------------------

_RES_K = 25

_RESERVOIR_ORACLE = f"""
SELECT doc_id, source, lang,
       CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT {_RES_K}
"""


@register("hash_reservoir_sample", oracle=_RESERVOIR_ORACLE)
def hash_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed reservoir: the k documents with the
    smallest content-hash priority — a uniform without-replacement
    sample that is a pure function of content (reruns, backfills, and
    engines agree; no RNG state, no seed-per-partition hazard — the
    ORDER BY flavor of deterministic_sample's WHERE-prefix trick).

    Scale shape: TakeOrderedAndProject — per-partition top-k heaps +
    driver merge of k x partitions rows; a global sort never happens.
    This is how 'sample k docs for eval' should run at 100 TB."""
    from dissertation_iceberg_spark.functions.hashing import hash60

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id", "source", "lang", hash60(F.col("text")).alias("priority")
        )
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(_RES_K)
    )


# --------------------------------------------------------------------------
# Histogram quantile sketch: equi-width bins -> interpolated quantiles
# --------------------------------------------------------------------------

_HIST_BINS = 256
_HIST_QS = (0.5, 0.9, 0.99)

_HIST_ORACLE = f"""
WITH b AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
         count(*) AS n
  FROM lineitem),
h AS (
  SELECT least(CAST(floor((l_extendedprice - b.lo) / ((b.hi - b.lo) / {_HIST_BINS}))
               AS BIGINT), {_HIST_BINS - 1}) AS bin,
         count(*) AS bin_n
  FROM lineitem, b GROUP BY 1),
c AS (
  SELECT bin, bin_n,
         sum(bin_n) OVER (ORDER BY bin) AS cum,
         sum(bin_n) OVER (ORDER BY bin) - bin_n AS cum_prev
  FROM h),
q AS ({" UNION ALL ".join(f"SELECT CAST({q} AS DOUBLE) AS q" for q in _HIST_QS)}),
t AS (SELECT q.q, ceil(q.q * b.n) AS target, b.lo, b.hi FROM q, b),
pick AS (
  SELECT t.q, t.lo, t.hi,
         min_by(c.bin, c.bin) AS bin,
         min_by(c.bin_n, c.bin) AS bin_n,
         min_by(c.cum_prev, c.bin) AS cum_prev,
         any_value(t.target) AS target
  FROM t JOIN c ON c.cum >= t.target
  GROUP BY 1, 2, 3)
SELECT q,
       round(lo + (CAST(bin AS DOUBLE)
             + (CAST(target - cum_prev AS DOUBLE) / bin_n))
             * ((hi - lo) / {_HIST_BINS}), 6) AS est
FROM pick
"""


@register("histogram_quantiles", oracle=_HIST_ORACLE)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram quantile sketch: one 256-bin counting pass
    over lineitem prices, then P50/P90/P99 by linear interpolation
    inside the covering bin — the fixed-state quantile estimate
    (t-digest's simpler cousin) whose aggregation state is bounded at
    {bins} cells at any data size, vs the exact distributed percentile
    (percentile_battery) that shuffles order statistics.

    Every input to the interpolation (bin index, bin count, exclusive
    cumulative, ceil(q*N) target, global min/max) is an exact integer
    or an identically-derived double in both engines, so the ESTIMATE
    itself is oracle-matched, not just bounded. Accuracy vs the exact
    percentile is pinned in tests/test_factors.py.""".format(bins=_HIST_BINS)
    li = load_table(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    h = (
        li.transform(with_scalars, b)
        .select(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast(
                    "long"
                ),
                F.lit(_HIST_BINS - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("bin_n"))
    )
    from pyspark.sql import Window as W

    cw = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    c = h.select(
        "bin",
        "bin_n",
        F.sum("bin_n").over(cw).alias("cum"),
        (F.sum("bin_n").over(cw) - F.col("bin_n")).alias("cum_prev"),
    )
    qs = None
    for q in _HIST_QS:
        row = b.select(
            F.lit(q).alias("q"),
            F.ceil(F.lit(q) * F.col("n")).alias("target"),
            "lo",
            "hi",
        )
        qs = row if qs is None else qs.unionByName(row)
    pick = (
        c.transform(explode_grid, qs).filter(F.col("cum") >= F.col("target"))
        .groupBy("q", "lo", "hi")
        .agg(
            F.min_by("bin", "bin").alias("bin"),
            F.min_by("bin_n", "bin").alias("bin_n"),
            F.min_by("cum_prev", "bin").alias("cum_prev"),
            F.any_value("target").alias("target"),
        )
    )
    width_out = (F.col("hi") - F.col("lo")) / _HIST_BINS
    return pick.select(
        "q",
        F.round(
            F.col("lo")
            + (
                F.col("bin").cast("double")
                + (F.col("target") - F.col("cum_prev")).cast("double")
                / F.col("bin_n")
            )
            * width_out,
            6,
        ).alias("est"),
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct sketch: per-language vocab cardinality estimate
# --------------------------------------------------------------------------

_HLL_B = 8  # bucket bits
_HLL_M = 1 << _HLL_B  # 256 registers
_HLL_WBITS = 60 - _HLL_B  # 52 payload bits per hash
# harmonic-term scale: 2^(SHIFT - M_j) keeps every term integral
# (M_j <= 53) while m * 2^SHIFT = 2^62 still fits signed 64-bit
_HLL_SHIFT = 54
# alpha_m for m >= 128 (Flajolet et al. 2007); computed in Python
# doubles = the identical correctly-rounded chain DuckDB would fold,
# embedded as a repr() literal so both engines parse the same double
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_NUM = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(1 << _HLL_SHIFT)

_HLL_ORACLE = f"""
WITH h AS (
  SELECT l_returnflag AS grp,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv,
         l_orderkey AS k
  FROM lineitem),
rho AS (
  SELECT grp, hv >> {_HLL_WBITS} AS bucket,
         CASE WHEN (hv & {(1 << _HLL_WBITS) - 1}) = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1}
                   - length(format('{{:b}}', hv & {(1 << _HLL_WBITS) - 1}))
         END AS r
  FROM h),
regs AS (
  SELECT grp, bucket, max(r) AS m FROM rho GROUP BY 1, 2),
s AS (
  SELECT grp,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m)) AS BIGINT)
           + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SHIFT})
           AS s_scaled,
         CAST({_HLL_M} - count(*) AS BIGINT) AS n_empty
  FROM regs GROUP BY 1),
exact AS (
  SELECT grp, count(DISTINCT k) AS n_exact FROM h GROUP BY 1)
SELECT s.grp, s.s_scaled, s.n_empty, e.n_exact,
       round({_HLL_NUM!r} / CAST(s.s_scaled AS DOUBLE), 4) AS est,
       round(({_HLL_NUM!r} / CAST(s.s_scaled AS DOUBLE) - e.n_exact)
             / e.n_exact, 4) AS rel_err
FROM s JOIN exact e USING (grp)
"""


@register("hll_distinct", oracle=_HLL_ORACLE)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-order-key estimate per return flag,
    audited against the exact distinct count (order keys per flag stay
    well above the 2.5m raw-HLL floor at every fixture SF; the tiny
    per-lang doc vocab would sit in linear-counting range, whose
    m*ln(m/V) correction is a libm call that can diverge across
    engines). Registers are derived from the portable 60-bit hash:
    top {b} bits pick one of {m} buckets, the
    remaining {w} bits' leading-zero run (+1) is the rank, the
    register is the per-bucket max rank — so the DuckDB oracle replays
    the SKETCH bit-for-bit, estimate included, not just its contract.

    Parity trick for the harmonic mean: each bucket contributes
    2^({sh} - M_j), an exact BIGINT (M_j <= {wp1}), and empty buckets
    contribute 2^{sh} (m x 2^{sh} = 2^62 still fits int64) — the whole
    denominator is ONE exact integer sum, so the only float op is a
    single division of identical operands.
    Leading zeros come from base-2 string length (conv/format), never
    log2 (a libm call that can diverge at powers of two).

    Scale shape: the sketch state is {m} registers per group no matter
    the corpus size — the map-side partial aggregate is bounded at
    groups x {m} cells, vs count(DISTINCT) whose shuffle is O(vocab).
    The exact count here is the audit baseline; production drops it
    and ships only the registers (mergeable across any partitioning:
    max is associative-commutative).""".format(
        b=_HLL_B, m=_HLL_M, w=_HLL_WBITS, wp1=_HLL_WBITS + 1, sh=_HLL_SHIFT
    )
    from dissertation_iceberg_spark.functions.hashing import hash60

    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_orderkey").alias("k"),
        hash60(F.col("l_orderkey").cast("string")).alias("hv"),
    )
    w = F.col("hv").bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    rho = h.select(
        "grp",
        F.shiftright("hv", _HLL_WBITS).alias("bucket"),
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
        .alias("r"),
    )
    regs = rho.groupBy("grp", "bucket").agg(F.max("r").alias("m"))
    s = regs.groupBy("grp").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT} - m)"))
            + (_HLL_M - F.count(F.lit(1)))
            * F.lit(1 << _HLL_SHIFT).cast("long")
        )
        .cast("long")
        .alias("s_scaled"),
        (_HLL_M - F.count(F.lit(1))).cast("long").alias("n_empty"),
    )
    exact = h.groupBy("grp").agg(F.count_distinct("k").alias("n_exact"))
    est = F.lit(_HLL_NUM) / F.col("s_scaled").cast("double")
    return s.join(exact, "grp").select(
        "grp",
        "s_scaled",
        "n_empty",
        "n_exact",
        F.round(est, 4).alias("est"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# Bloom-gated decontamination: the two sketches composed into the
# actual 100 TB pipeline step (cheap gate -> exact verify on survivors)
# --------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH keys AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents),
test_fps AS (
  SELECT DISTINCT fp FROM keys WHERE source = '{_BLOOM_BUILD_SOURCE}'),
bits AS (
  SELECT DISTINCT ({_seeded_hash_sql("r.i", "fp")}) % {_BLOOM_BITS} AS bit
  FROM test_fps CROSS JOIN range({_BLOOM_K}) r(i)),
train AS (
  SELECT doc_id, source, fp FROM keys
  WHERE source <> '{_BLOOM_BUILD_SOURCE}'),
probe AS (
  SELECT t.doc_id, t.source, t.fp, r.i,
         ({_seeded_hash_sql("r.i", "t.fp")}) % {_BLOOM_BITS} AS bit
  FROM train t CROSS JOIN range({_BLOOM_K}) r(i)),
gated AS (
  SELECT p.doc_id, any_value(p.source) AS source, any_value(p.fp) AS fp
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.doc_id
  HAVING count(b.bit) = {_BLOOM_K}),
confirmed AS (
  SELECT g.doc_id, g.source,
         CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM gated g LEFT JOIN test_fps tf ON g.fp = tf.fp)
SELECT t.source,
       count(*) AS n_train_docs,
       CAST(coalesce(any_value(s.n_gated), 0) AS BIGINT) AS n_gated,
       CAST(coalesce(any_value(s.n_confirmed), 0) AS BIGINT) AS n_confirmed,
       CAST(count(*) - coalesce(any_value(s.n_gated), 0) AS BIGINT)
         AS n_skipped_exact_check
FROM train t
LEFT JOIN (
  SELECT source, count(*) AS n_gated,
         CAST(sum(is_dup) AS BIGINT) AS n_confirmed
  FROM confirmed GROUP BY 1) s
  ON t.source = s.source
GROUP BY 1
"""


@register("bloom_gated_decontamination", oracle=_DECON_ORACLE)
def bloom_gated_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination pipeline a 100 TB training-data build runs:
    the held-out set's fingerprints become a Bloom filter; the full
    training corpus passes through the broadcast gate ({k} hashes
    against bounded bits — no shuffle); only gate survivors reach the
    exact fingerprint anti-join. Per source: docs scanned, docs gated
    through, exact-confirmed contaminants, and docs that SKIPPED the
    expensive exact check — the measured Bloom win (at a 1e-4 FPR the
    exact join sees ~0.01% of the corpus instead of 100%).

    Composes bloom_membership_audit's gate with exact_dedup's
    fingerprint equality; the Bloom no-false-negative contract makes
    the gate SAFE (n_confirmed is exactly what an ungated anti-join
    finds — pinned in tests/test_properties.py).""".format(k=_BLOOM_K)
    docs = spread(load_table(spark, sf_dir, "documents"))
    keys = docs.select("doc_id", "source", F.md5(F.col("text")).alias("fp"))
    test_fps = (
        keys.filter(F.col("source") == _BLOOM_BUILD_SOURCE).select("fp").distinct()
    )
    idx = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    bits = (
        test_fps.select(F.explode(idx).alias("i"), "fp")
        .select(
            (_seeded_hash_col(F.col("i"), F.col("fp")) % _BLOOM_BITS).alias("bit")
        )
        .distinct()
        .withColumn("__set", F.lit(1))
    )
    train = keys.filter(F.col("source") != _BLOOM_BUILD_SOURCE)
    probe = train.select("doc_id", "source", "fp", F.explode(idx).alias("i")).select(
        "doc_id",
        "source",
        "fp",
        (_seeded_hash_col(F.col("i"), F.col("fp")) % _BLOOM_BITS).alias("bit"),
    )
    gated = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.any_value("fp").alias("fp"),
            F.count("__set").alias("n_set"),
        )
        .filter(F.col("n_set") == _BLOOM_K)
    )
    confirmed = gated.join(
        F.broadcast(test_fps.withColumn("__dup", F.lit(1))), "fp", "left"
    )
    per_source = confirmed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_gated"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("n_confirmed"),
    )
    return (
        train.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
        .join(F.broadcast(per_source), "source", "left")
        .select(
            "source",
            "n_train_docs",
            F.coalesce(F.col("n_gated"), F.lit(0)).cast("long").alias("n_gated"),
            F.coalesce(F.col("n_confirmed"), F.lit(0))
            .cast("long")
            .alias("n_confirmed"),
            (F.col("n_train_docs") - F.coalesce(F.col("n_gated"), F.lit(0)))
            .cast("long")
            .alias("n_skipped_exact_check"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic t-digest: arcsine-scale (k1) quantile centroids
# --------------------------------------------------------------------------

_TD_PREBINS = 1024  # value-space pre-buckets (pass 2 state)
_TD_K = 64  # centroids
_TD_PI_MICRO = 3_141_593  # round(pi * 1e6)

_TDIGEST_ORACLE = f"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
b AS (SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM v),
h AS (
  SELECT least((v.c - b.lo) * {_TD_PREBINS} // (b.hi - b.lo + 1),
               {_TD_PREBINS - 1}) AS bin,
         count(*) AS bin_n,
         CAST(sum(v.c) AS BIGINT) AS bin_sum,
         min(v.c) AS bin_lo, max(v.c) AS bin_hi
  FROM v, b GROUP BY 1),
c AS (
  SELECT h.*, b.n,
         sum(bin_n) OVER (ORDER BY bin) - bin_n AS cum_prev
  FROM h, b),
assigned AS (
  SELECT least(({_TD_K} * CAST(round((asin(
             CAST(2 * cum_prev + bin_n - n AS DOUBLE) / n)
             + pi() / 2) * 1e6) AS BIGINT)) // {_TD_PI_MICRO},
           {_TD_K - 1}) AS centroid,
         bin_n, bin_sum, bin_lo, bin_hi
  FROM c)
SELECT centroid,
       CAST(sum(bin_n) AS BIGINT) AS n,
       CAST(sum(bin_sum) AS BIGINT) AS sum_cents,
       min(bin_lo) AS lo_cents, max(bin_hi) AS hi_cents,
       round(CAST(sum(bin_sum) AS DOUBLE) / sum(bin_n) / 100, 6)
         AS mean_price
FROM assigned GROUP BY 1
"""


@register("tdigest_centroids", oracle=_TDIGEST_ORACLE)
def tdigest_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic t-digest: quantile centroids on the k1 (arcsine)
    scale — fine resolution at the tails, coarse in the middle — with
    NONE of the classic algorithm's insertion-order sensitivity.
    Construction: (1) exact global (min, max, count); (2) one
    {p}-cell equi-width counting pass (n, sum, min, max per cell);
    (3) each cell's midpoint CDF position q maps to centroid
    floor(K * (asin(2q-1) + pi/2) / pi) — cells merge into at most
    {k} centroids, tail cells mapping near-injectively (asin slope
    diverges at q=0,1) and middle cells many-to-one.

    Mergeability (the point of a t-digest): per-cell and per-centroid
    states are (n, sum, min, max) — associative integer sums, so
    shards/days/engines combine by addition, bit-reproducibly at any
    parallelism. Every arithmetic step is integer except the single
    asin, micro-rounded once per CELL (1024 of them, not per row) —
    the documented half-ulp tie class. Scale shape: two fact scans
    with O({p}) aggregation state; everything after is driver-scale.
    Accuracy vs exact percentiles is pinned in
    tests/test_properties.py.""".format(p=_TD_PREBINS, k=_TD_K)
    import math

    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(round_long(F.col("l_extendedprice") * 100).alias("c"))
    b = v.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    h = (
        v.transform(with_scalars, b)
        .select(
            "c",
            "n",
            ((F.col("c") - F.col("lo")) * _TD_PREBINS).cast("long").alias("num"),
            (F.col("hi") - F.col("lo") + 1).alias("den"),
        )
        .select(
            "c",
            "n",
            F.expr(f"least(num div den, {_TD_PREBINS - 1})").alias("bin"),
        )
        .groupBy("bin", "n")
        .agg(
            F.count(F.lit(1)).alias("bin_n"),
            F.sum("c").cast("long").alias("bin_sum"),
            F.min("c").alias("bin_lo"),
            F.max("c").alias("bin_hi"),
        )
    )
    cw = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    c = h.withColumn("cum_prev", F.sum("bin_n").over(cw) - F.col("bin_n"))
    arg = (2 * F.col("cum_prev") + F.col("bin_n") - F.col("n")).cast(
        "double"
    ) / F.col("n")
    asin_micro = round_long((F.asin(arg) + F.lit(math.pi / 2)) * 1e6)
    return (
        c.withColumn("asin_micro", asin_micro)
        .select(
            F.expr(
                f"least(({_TD_K} * asin_micro) div {_TD_PI_MICRO}, {_TD_K - 1})"
            ).alias("centroid"),
            "bin_n",
            "bin_sum",
            "bin_lo",
            "bin_hi",
        )
        .groupBy("centroid")
        .agg(
            F.sum("bin_n").cast("long").alias("n"),
            F.sum("bin_sum").cast("long").alias("sum_cents"),
            F.min("bin_lo").alias("lo_cents"),
            F.max("bin_hi").alias("hi_cents"),
            F.round(
                F.sum("bin_sum").cast("double") / F.sum("bin_n") / 100, 6
            ).alias("mean_price"),
        )
    )


# --------------------------------------------------------------------------
# Weighted reservoir (A-ES): exponential-race sampling by integer priority
# --------------------------------------------------------------------------

_WRES_K = 30
_TWO60 = 1 << 60  # hash60 range

_WRES_ORACLE = f"""
WITH p AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_quantity) AS BIGINT) AS w,
         CAST(round(-ln(
             (CAST('0x' || substr(md5(
                 CAST(l_orderkey AS VARCHAR) || ':'
                 || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) + 1)
             / {_TWO60}.0) * 1e6) AS BIGINT) AS lp_micro
  FROM lineitem)
SELECT l_orderkey, l_linenumber, w,
       (lp_micro * 1000) // w AS priority
FROM p
ORDER BY priority, l_orderkey, l_linenumber
LIMIT {_WRES_K}
"""


@register("weighted_reservoir_sample", oracle=_WRES_ORACLE)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement reservoir (Efraimidis-Spirtsis
    A-ES, exponential-race form): each line draws an exponential key
    e = -ln(u)/w from its content hash and the k SMALLEST keys win —
    inclusion probability proportional to weight (quantity), with no
    RNG state and no seed-per-partition hazard (the weighted sibling
    of hash_reservoir_sample).

    Cross-engine-stable priority (the form round 2's ROADMAP asked
    for): u = (hash60 + 1) / 2^60 is one IEEE division of identical
    integers; -ln(u) is micro-rounded ONCE (1e-6 grain — the repo's
    accepted half-ulp tie class, window ~1e-8); everything after is
    exact integer arithmetic: priority = (lp_micro * 1000) div w,
    restoring sub-micro resolution under the integer division.
    Naively rounding at 1e-12 grain instead would put ~1% of rows
    inside the cross-libm tie window — the trap that kept this
    operator out of rounds 1-2.

    Scale shape: per-row expressions + TakeOrderedAndProject
    (per-partition heaps, driver merge of k x partitions rows); no
    shuffle, no sort. Weight bias and partitioning-invariance pinned
    in tests/test_properties.py."""
    from dissertation_iceberg_spark.functions.hashing import hash60

    li = spread(load_table(spark, sf_dir, "lineitem"))
    key = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
    u = (hash60(key) + 1).cast("double") / F.lit(float(_TWO60))
    lp_micro = round_long(-F.log(u) * 1e6)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            round_long(F.col("l_quantity")).alias("w"),
            lp_micro.alias("lp_micro"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "w",
            F.expr("(lp_micro * 1000) div w").alias("priority"),
        )
        .orderBy("priority", "l_orderkey", "l_linenumber")
        .limit(_WRES_K)
    )


# --------------------------------------------------------------------------
# t-digest quantile readout: sketch -> interpolated P50/P90/P99
# --------------------------------------------------------------------------

_TDQ_QS = (0.5, 0.9, 0.99)

_TDQ_ORACLE = f"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
b AS (SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM v),
h AS (
  SELECT least((v.c - b.lo) * {_TD_PREBINS} // (b.hi - b.lo + 1),
               {_TD_PREBINS - 1}) AS bin,
         count(*) AS bin_n,
         min(v.c) AS bin_lo, max(v.c) AS bin_hi
  FROM v, b GROUP BY 1),
c AS (
  SELECT h.*, b.n,
         sum(bin_n) OVER (ORDER BY bin) - bin_n AS cum_prev
  FROM h, b),
assigned AS (
  SELECT least(({_TD_K} * CAST(round((asin(
             CAST(2 * cum_prev + bin_n - n AS DOUBLE) / n)
             + pi() / 2) * 1e6) AS BIGINT)) // {_TD_PI_MICRO},
           {_TD_K - 1}) AS centroid,
         bin_n, bin_lo, bin_hi
  FROM c),
cent AS (
  SELECT centroid, CAST(sum(bin_n) AS BIGINT) AS cn,
         min(bin_lo) AS clo, max(bin_hi) AS chi
  FROM assigned GROUP BY 1),
cc AS (
  SELECT cent.*,
         sum(cn) OVER (ORDER BY centroid) AS cum,
         sum(cn) OVER (ORDER BY centroid) - cn AS cum_prev
  FROM cent),
q AS ({" UNION ALL ".join(f"SELECT CAST({q} AS DOUBLE) AS q" for q in _TDQ_QS)}),
t AS (SELECT q.q, CAST(ceil(q.q * b.n) AS BIGINT) AS target FROM q, b),
pick AS (
  SELECT t.q,
         min_by(cc.centroid, cc.centroid) AS centroid,
         min_by(cc.cn, cc.centroid) AS cn,
         min_by(cc.clo, cc.centroid) AS clo,
         min_by(cc.chi, cc.centroid) AS chi,
         min_by(cc.cum_prev, cc.centroid) AS cum_prev,
         any_value(t.target) AS target
  FROM t JOIN cc ON cc.cum >= t.target
  GROUP BY 1)
SELECT q, centroid,
       round((CAST(clo AS DOUBLE)
              + CAST(target - cum_prev AS DOUBLE) / cn
                * CAST(chi - clo AS DOUBLE)) / 100, 6) AS est_price
FROM pick
"""


@register("tdigest_quantile_readout", oracle=_TDQ_ORACLE)
def tdigest_quantile_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest's purpose, end-to-end and fully oracle-checked:
    build the arcsine-scale centroids (tdigest_centroids machinery)
    and read P50/P90/P99 back by locating the covering centroid
    (first cumulative count >= ceil(q*N)) and interpolating inside
    its [min, max] value span. Tail quantiles land in the narrow tail
    centroids — the accuracy edge over the equi-width
    histogram_quantiles readout at the same state budget.

    Every interpolation input (centroid counts, exclusive cumulative,
    target rank, centroid value bounds) is an exact integer in both
    engines, so the ESTIMATE is hash-matched, not just bounded."""
    import math

    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(round_long(F.col("l_extendedprice") * 100).alias("c"))
    b = v.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    h = (
        v.transform(with_scalars, b)
        .select(
            "c",
            "n",
            ((F.col("c") - F.col("lo")) * _TD_PREBINS).cast("long").alias("num"),
            (F.col("hi") - F.col("lo") + 1).alias("den"),
        )
        .select(
            "c",
            "n",
            F.expr(f"least(num div den, {_TD_PREBINS - 1})").alias("bin"),
        )
        .groupBy("bin", "n")
        .agg(
            F.count(F.lit(1)).alias("bin_n"),
            F.min("c").alias("bin_lo"),
            F.max("c").alias("bin_hi"),
        )
    )
    cw = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    c = h.withColumn("cum_prev", F.sum("bin_n").over(cw) - F.col("bin_n"))
    arg = (2 * F.col("cum_prev") + F.col("bin_n") - F.col("n")).cast(
        "double"
    ) / F.col("n")
    asin_micro = round_long((F.asin(arg) + F.lit(math.pi / 2)) * 1e6)
    cent = (
        c.withColumn("asin_micro", asin_micro)
        .select(
            F.expr(
                f"least(({_TD_K} * asin_micro) div {_TD_PI_MICRO}, {_TD_K - 1})"
            ).alias("centroid"),
            "bin_n",
            "bin_lo",
            "bin_hi",
        )
        .groupBy("centroid")
        .agg(
            F.sum("bin_n").cast("long").alias("cn"),
            F.min("bin_lo").alias("clo"),
            F.max("bin_hi").alias("chi"),
        )
    )
    ccw = W.orderBy("centroid").rowsBetween(W.unboundedPreceding, 0)
    cc = cent.select(
        "centroid",
        "cn",
        "clo",
        "chi",
        F.sum("cn").over(ccw).alias("cum"),
        (F.sum("cn").over(ccw) - F.col("cn")).alias("cum_prev"),
    )
    qs = None
    for q in _TDQ_QS:
        row = b.select(
            F.lit(q).alias("q"),
            F.ceil(F.lit(q) * F.col("n")).cast("long").alias("target"),
        )
        qs = row if qs is None else qs.unionByName(row)
    pick = (
        cc.transform(explode_grid, qs).filter(F.col("cum") >= F.col("target"))
        .groupBy("q")
        .agg(
            F.min_by("centroid", "centroid").alias("centroid"),
            F.min_by("cn", "centroid").alias("cn"),
            F.min_by("clo", "centroid").alias("clo"),
            F.min_by("chi", "centroid").alias("chi"),
            F.min_by("cum_prev", "centroid").alias("cum_prev"),
            F.any_value("target").alias("target"),
        )
    )
    return pick.select(
        "q",
        "centroid",
        F.round(
            (
                F.col("clo").cast("double")
                + (F.col("target") - F.col("cum_prev")).cast("double")
                / F.col("cn")
                * (F.col("chi") - F.col("clo")).cast("double")
            )
            / 100,
            6,
        ).alias("est_price"),
    )


# --------------------------------------------------------------------------
# Grouped t-digest: one digest PER KEY (per-source doc-length centroids)
# --------------------------------------------------------------------------

_GTD_PREBINS = 256  # per-group value-space pre-buckets
_GTD_K = 32  # centroids per group

_GROUPED_TDIGEST_ORACLE = f"""
WITH v AS (SELECT source, n_chars AS c FROM documents),
b AS (
  SELECT source, min(c) AS lo, max(c) AS hi, count(*) AS n
  FROM v GROUP BY 1),
h AS (
  SELECT v.source,
         least((v.c - b.lo) * {_GTD_PREBINS} // (b.hi - b.lo + 1),
               {_GTD_PREBINS - 1}) AS bin,
         count(*) AS bin_n,
         CAST(sum(v.c) AS BIGINT) AS bin_sum,
         min(v.c) AS bin_lo, max(v.c) AS bin_hi
  FROM v JOIN b ON v.source = b.source GROUP BY 1, 2),
c AS (
  SELECT h.*, b.n,
         sum(bin_n) OVER (PARTITION BY h.source ORDER BY bin) - bin_n
           AS cum_prev
  FROM h JOIN b ON h.source = b.source),
assigned AS (
  SELECT source,
         least(({_GTD_K} * CAST(round((asin(
             CAST(2 * cum_prev + bin_n - n AS DOUBLE) / n)
             + pi() / 2) * 1e6) AS BIGINT)) // {_TD_PI_MICRO},
           {_GTD_K - 1}) AS centroid,
         bin_n, bin_sum, bin_lo, bin_hi
  FROM c)
SELECT source, centroid,
       CAST(sum(bin_n) AS BIGINT) AS n,
       CAST(sum(bin_sum) AS BIGINT) AS sum_chars,
       min(bin_lo) AS lo_chars, max(bin_hi) AS hi_chars,
       round(CAST(sum(bin_sum) AS DOUBLE) / sum(bin_n), 6) AS mean_chars
FROM assigned GROUP BY 1, 2
"""


@register("grouped_tdigest", oracle=_GROUPED_TDIGEST_ORACLE)
def grouped_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped t-digest: ONE deterministic k1-scale digest PER KEY
    (per-source document-length centroids) — the per-key centroid
    table that powers "p99 length by source" dashboards and per-source
    length-drift alerts without ever sorting the corpus. Same
    construction as tdigest_centroids with every step group-local:
    per-group exact (min, max, n); per-(group, cell) counting state;
    cumulative window PARTITIONED BY group (no single-partition frame
    — this is the windowed/grouped form the global digest can't give);
    asin micro-rounded once per (group, cell).

    Mergeability per key: states are (n, sum, min, max) integer sums —
    shards/days combine by addition per (source, centroid),
    bit-reproducibly at any parallelism. Scale shape: two fact scans
    with O(groups × {p}) state, window frames are O({p}) rows per
    group; output O(groups × {k}).""".format(p=_GTD_PREBINS, k=_GTD_K)
    import math

    from pyspark.sql import Window as W

    docs = spread(load_table(spark, sf_dir, "documents"))
    v = docs.select("source", F.col("n_chars").alias("c"))
    b = v.groupBy("source").agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    h = (
        v.join(F.broadcast(b), "source")
        .select(
            "source",
            "c",
            "n",
            ((F.col("c") - F.col("lo")) * _GTD_PREBINS).cast("long").alias("num"),
            (F.col("hi") - F.col("lo") + 1).alias("den"),
        )
        .select(
            "source",
            "c",
            "n",
            F.expr(f"least(num div den, {_GTD_PREBINS - 1})").alias("bin"),
        )
        .groupBy("source", "bin", "n")
        .agg(
            F.count(F.lit(1)).alias("bin_n"),
            F.sum("c").cast("long").alias("bin_sum"),
            F.min("c").alias("bin_lo"),
            F.max("c").alias("bin_hi"),
        )
    )
    cw = (
        W.partitionBy("source").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    )
    c = h.withColumn("cum_prev", F.sum("bin_n").over(cw) - F.col("bin_n"))
    arg = (2 * F.col("cum_prev") + F.col("bin_n") - F.col("n")).cast(
        "double"
    ) / F.col("n")
    asin_micro = round_long((F.asin(arg) + F.lit(math.pi / 2)) * 1e6)
    return (
        c.withColumn("asin_micro", asin_micro)
        .select(
            "source",
            F.expr(
                f"least(({_GTD_K} * asin_micro) div {_TD_PI_MICRO}, {_GTD_K - 1})"
            ).alias("centroid"),
            "bin_n",
            "bin_sum",
            "bin_lo",
            "bin_hi",
        )
        .groupBy("source", "centroid")
        .agg(
            F.sum("bin_n").cast("long").alias("n"),
            F.sum("bin_sum").cast("long").alias("sum_chars"),
            F.min("bin_lo").alias("lo_chars"),
            F.max("bin_hi").alias("hi_chars"),
            F.round(F.sum("bin_sum").cast("double") / F.sum("bin_n"), 6).alias(
                "mean_chars"
            ),
        )
    )


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap: replicate means for a CI, no RNG state
# --------------------------------------------------------------------------

_BOOT_B = 48  # bootstrap replicates
# Poisson(1) CDF thresholds scaled to the hash60 range [0, 2^60):
# weight = #{k : u >= c_k}, truncated at 8 (tail mass ~1e-5 dropped
# identically in both engines). Computed once in Python; injected as
# literals on BOTH sides so no runtime float ever decides a weight.
_POIS1_CDF60 = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
)

_BOOT_ORACLE = f"""
WITH x AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
expanded AS (
  SELECT b.b, x.cents,
         CAST(len(list_filter({list(_POIS1_CDF60)},
              c -> {seeded_hash60_col_sql("b.b", "CAST(x.o_orderkey AS VARCHAR)")} >= c))
              AS BIGINT) AS w
  FROM x CROSS JOIN range({_BOOT_B}) b(b))
SELECT b AS replicate,
       CAST(sum(w) AS BIGINT) AS n_eff,
       round(CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100, 6) AS boot_mean
FROM expanded GROUP BY 1
"""


@register("poisson_bootstrap_means", oracle=_BOOT_ORACLE)
def poisson_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: {b} replicate means
    whose spread IS the sampling distribution (percentiles of this
    column are the CI). The Poisson(1) trick is THE distributed
    bootstrap — classic resampling needs n draws from a shared
    counter, but Poisson weights are independent PER ROW, so each
    executor weights its rows with no coordination, exactly what a
    100 TB bootstrap needs.

    Zero RNG state: replicate b's weight for a row is derived from the
    portable 60-bit hash of (order key, b) against Poisson(1) CDF
    thresholds precomputed in Python and injected as integer literals
    in BOTH engines — reproducible across engines, partitions, and
    reruns; no seed array ships anywhere. Weighted sums are exact
    integer cents; the single display division per replicate is
    identical small-int arithmetic.

    Scale shape: one fact scan exploded ×{b} with a map-side-
    combinable (replicate) aggregation — state is O({b}) rows per
    task, the shuffle carries {b} partials per task. Rows with
    duplicate keys share weights (the driver's synthetic orders does
    not enforce the o_orderkey PK) — harmless: weights stay
    Poisson(1)-marginal and both engines agree row-by-row.""".format(
        b=_BOOT_B
    )
    # spread BEFORE the x48 explode: the orders scan is one parquet
    # split, and explode + the 48 md5 weight derivations per row are
    # narrow, so without this the whole 7.2M-hash fan-out runs on ONE
    # task (measured 93-120 s at sf0.1 by the round-8 registry sweep;
    # ~4 s spread). Weighted sums are exact integers — row order
    # cannot change the result.
    ords = spread(load_table(spark, sf_dir, "orders"))
    x = ords.select(
        "o_orderkey",
        round_long(F.col("o_totalprice") * 100).alias("cents"),
    )
    u = seeded_hash60_col(F.col("b"), F.col("o_orderkey").cast("string"))
    thresholds = F.array(*[F.lit(c).cast("long") for c in _POIS1_CDF60])
    expanded = (
        x.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))))
        .withColumn("u", u)
        .withColumn(
            "w",
            F.size(F.filter(thresholds, lambda c: F.col("u") >= c)).cast("long"),
        )
    )
    return expanded.groupBy(F.col("b").alias("replicate")).agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.round(
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w")
            / 100,
            6,
        ).alias("boot_mean"),
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with mergeable set operations
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_H = 1 << 60  # hash domain size (hash60 is uniform on [0, 2^60))

_KMV_EST_SQL = (
    "CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
    " ELSE ({k} - 1) * CAST({h} AS DOUBLE) / {theta} END"
)

_KMV_ORACLE = f"""
WITH vs AS (
  SELECT DISTINCT event_type, user_id FROM events),
vh AS (
  SELECT DISTINCT event_type,
         {hash60_sql("'u' || CAST(user_id AS VARCHAR)")} AS hv
  FROM vs),
nx AS (SELECT event_type, count(*) AS n_exact FROM vh GROUP BY 1),
kmv AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
    FROM vh) q WHERE rk <= {_KMV_K}),
te AS (
  SELECT event_type, count(*) AS n_kept, CAST(max(hv) AS BIGINT) AS theta
  FROM kmv GROUP BY 1),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM nx a JOIN nx b ON a.event_type < b.event_type),
m0 AS (
  SELECT p.ta, p.tb, k.hv, 1 AS a, 0 AS b
  FROM pairs p JOIN kmv k ON k.event_type = p.ta
  UNION ALL
  SELECT p.ta, p.tb, k.hv, 0 AS a, 1 AS b
  FROM pairs p JOIN kmv k ON k.event_type = p.tb),
m AS (
  SELECT ta, tb, hv, max(a) AS in_a, max(b) AS in_b
  FROM m0 GROUP BY 1, 2, 3),
mk AS (
  SELECT ta, tb, hv, in_a, in_b FROM (
    SELECT ta, tb, hv, in_a, in_b,
           row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rk
    FROM m) q WHERE rk <= {_KMV_K}),
g AS (
  SELECT ta, tb, count(*) AS n_kept_u, CAST(max(hv) AS BIGINT) AS theta_u,
         CAST(sum(in_a * in_b) AS BIGINT) AS rho
  FROM mk GROUP BY 1, 2),
ex0 AS (
  SELECT p.ta, p.tb, v.hv, 1 AS a, 0 AS b
  FROM pairs p JOIN vh v ON v.event_type = p.ta
  UNION ALL
  SELECT p.ta, p.tb, v.hv, 0 AS a, 1 AS b
  FROM pairs p JOIN vh v ON v.event_type = p.tb),
ex AS (
  SELECT ta, tb, count(*) AS exact_union,
         CAST(sum(in_both) AS BIGINT) AS exact_intersect
  FROM (SELECT ta, tb, hv, max(a) * max(b) AS in_both
        FROM ex0 GROUP BY 1, 2, 3) q
  GROUP BY 1, 2)
SELECT g.ta AS type_a, g.tb AS type_b,
       na.n_exact AS n_exact_a, nb.n_exact AS n_exact_b,
       CAST(round(({_KMV_EST_SQL.format(
           n="ea.n_kept", k=_KMV_K, h=_KMV_H, theta="ea.theta")}) * 1e6)
            AS BIGINT) / 1e6 AS est_a,
       CAST(round(({_KMV_EST_SQL.format(
           n="eb.n_kept", k=_KMV_K, h=_KMV_H, theta="eb.theta")}) * 1e6)
            AS BIGINT) / 1e6 AS est_b,
       ex.exact_union,
       CAST(round(({_KMV_EST_SQL.format(
           n="g.n_kept_u", k=_KMV_K, h=_KMV_H, theta="g.theta_u")}) * 1e6)
            AS BIGINT) / 1e6 AS est_union,
       ex.exact_intersect,
       CAST(round((CASE WHEN g.n_kept_u < {_KMV_K}
                        THEN CAST(g.rho AS DOUBLE)
                        ELSE CAST(g.rho AS DOUBLE) / {_KMV_K}
                             * (({_KMV_K} - 1) * CAST({_KMV_H} AS DOUBLE)
                                / g.theta_u) END) * 1e6)
            AS BIGINT) / 1e6 AS est_intersect
FROM g
JOIN nx na ON g.ta = na.event_type
JOIN nx nb ON g.tb = nb.event_type
JOIN te ea ON g.ta = ea.event_type
JOIN te eb ON g.tb = eb.event_type
JOIN ex ON g.ta = ex.ta AND g.tb = ex.tb
"""


@register("kmv_setops", oracle=_KMV_ORACLE)
def kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch with mergeable set
    operations over the per-event-type user sets: each set keeps its
    K={k} smallest portable 60-bit hashes; distinct estimate
    (K-1)·H/θ_K; union sketches MERGE by re-taking the K smallest of
    the combined minima (the property HLL lacks: KMV unions stay
    KMVs); intersections count survivors present in both input
    sketches (any union-minimum in A∩B is necessarily among both
    sides' kept minima, so membership needs no second pass over the
    data). Exact union/intersection ride along as accuracy columns —
    the sketch-vs-truth readout a 100 TB profiler samples.

    Exactness: everything up to the display estimates is integer
    (hashes, minima, ranks, counts); sets smaller than K degrade to
    exact counts by convention. The estimate divisions are identical
    double expressions, micro-rounded.

    Scale shape: per-set minima come from one partial-distinct
    aggregate + per-key TopK window (O(distinct) shuffle rows, K rows
    kept per set); everything pairwise runs on O(types² · K) rows.
    The type-pair grid is a broadcast ≤types² nested-loop (allow-
    listed, like the repo's other bounded grids).""".format(k=_KMV_K)
    ev = load_table(spark, sf_dir, "events")
    vs = ev.select("event_type", "user_id").distinct()
    vh = vs.select(
        "event_type",
        hash60(F.concat(F.lit("u"), F.col("user_id").cast("string"))).alias(
            "hv"
        ),
    ).distinct()
    nx = vh.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    wk = Window.partitionBy("event_type").orderBy("hv")
    kmv = (
        vh.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk")
    )
    te = kmv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("hv").cast("long").alias("theta")
    )
    ta = nx.select(F.col("event_type").alias("ta"))
    tb = nx.select(F.col("event_type").alias("tb"))
    pairs = ta.join(F.broadcast(tb), F.col("ta") < F.col("tb"))
    m0 = (
        pairs.join(kmv, kmv["event_type"] == pairs["ta"])
        .select("ta", "tb", "hv", F.lit(1).alias("a"), F.lit(0).alias("b"))
        .unionByName(
            pairs.join(kmv, kmv["event_type"] == pairs["tb"]).select(
                "ta", "tb", "hv", F.lit(0).alias("a"), F.lit(1).alias("b")
            )
        )
    )
    m = m0.groupBy("ta", "tb", "hv").agg(
        F.max("a").alias("in_a"), F.max("b").alias("in_b")
    )
    wu = Window.partitionBy("ta", "tb").orderBy("hv")
    mk = (
        m.withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= _KMV_K)
    )
    g = mk.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n_kept_u"),
        F.max("hv").cast("long").alias("theta_u"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("rho"),
    )
    ex0 = (
        pairs.join(vh, vh["event_type"] == pairs["ta"])
        .select("ta", "tb", "hv", F.lit(1).alias("a"), F.lit(0).alias("b"))
        .unionByName(
            pairs.join(vh, vh["event_type"] == pairs["tb"]).select(
                "ta", "tb", "hv", F.lit(0).alias("a"), F.lit(1).alias("b")
            )
        )
    )
    ex = (
        ex0.groupBy("ta", "tb", "hv")
        .agg((F.max("a") * F.max("b")).alias("in_both"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum("in_both").cast("long").alias("exact_intersect"),
        )
    )

    def est(n, theta):
        return F.when(n < _KMV_K, n.cast("double")).otherwise(
            (_KMV_K - 1) * float(_KMV_H) / theta
        )

    ea = te.select(
        F.col("event_type").alias("ta"),
        F.col("n_kept").alias("nk_a"),
        F.col("theta").alias("th_a"),
    )
    eb = te.select(
        F.col("event_type").alias("tb"),
        F.col("n_kept").alias("nk_b"),
        F.col("theta").alias("th_b"),
    )
    na = nx.select(
        F.col("event_type").alias("ta"), F.col("n_exact").alias("n_exact_a")
    )
    nb = nx.select(
        F.col("event_type").alias("tb"), F.col("n_exact").alias("n_exact_b")
    )
    est_u = est(F.col("n_kept_u"), F.col("theta_u"))
    est_i = F.when(
        F.col("n_kept_u") < _KMV_K, F.col("rho").cast("double")
    ).otherwise(
        F.col("rho").cast("double")
        / _KMV_K
        * ((_KMV_K - 1) * float(_KMV_H) / F.col("theta_u"))
    )
    return (
        g.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .join(F.broadcast(ea), "ta")
        .join(F.broadcast(eb), "tb")
        .join(ex, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_exact_a",
            "n_exact_b",
            r6(est(F.col("nk_a"), F.col("th_a"))).alias("est_a"),
            r6(est(F.col("nk_b"), F.col("th_b"))).alias("est_b"),
            "exact_union",
            r6(est_u).alias("est_union"),
            "exact_intersect",
            r6(est_i).alias("est_intersect"),
        )
    )


# --------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 second-frequency-moment sketch (round 3)
# --------------------------------------------------------------------------

_AMS_DEPTH = 16

_AMS_SIGN_SQL = (
    "(" + seeded_hash60_col_sql("est_id", "key") + " % 2) * 2 - 1"
)

_AMS_ORACLE = f"""
WITH keys AS (
  SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
est AS (
  SELECT key, unnest(range(1, {_AMS_DEPTH} + 1)) AS est_id FROM keys),
sk AS (
  SELECT CAST(est_id AS BIGINT) AS est_id,
         CAST(sum({_AMS_SIGN_SQL}) AS BIGINT) AS sketch_sum
  FROM est GROUP BY 1),
sk2 AS (
  SELECT est_id, sketch_sum,
         sketch_sum * sketch_sum AS estimate
  FROM sk),
med AS (
  SELECT estimate AS median_estimate FROM (
    SELECT estimate,
           row_number() OVER (ORDER BY estimate, est_id) AS rn
    FROM sk2)
  WHERE rn = {_AMS_DEPTH // 2}),
ex AS (
  SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM (
    SELECT count(*) AS f FROM lineitem GROUP BY l_partkey))
SELECT est_id, sketch_sum, estimate, median_estimate, exact_f2
FROM sk2 CROSS JOIN med CROSS JOIN ex
"""


@register("f2_ams_sketch", oracle=_AMS_ORACLE)
def f2_ams_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch over the part-key stream:
    16 independent ±1 sign hashes, each estimator is
    (sum of signs)^2, the readout is the (lower) median estimate next
    to the exact F2 = sum of squared frequencies — the classic
    self-join-size / skew estimator that needs one counter per
    estimator instead of one per key.

    Scale shape: the explode is a x16 map-side fan-out into a
    16-key map-side-combinable sum — sketch state is O(depth)
    no matter the key cardinality; exact F2 (the audit arm) is the only
    key-cardinality shuffle. Median and exact-F2 frames are 1-row
    broadcasts onto the O(depth) output.

    Determinism: signs come from the portable seeded md5 hash family
    (functions/hashing.py) so DuckDB replays the sketch EXACTLY —
    sketch sums are integer ±1 sums, estimates exact integer squares,
    and the even-depth median uses the lower-median convention with
    (estimate, est_id) ordering."""
    # spread BEFORE the x16 explode: one parquet split otherwise runs
    # all 9.6M sign hashes on a single task (round-8 sweep: 12.9 s ->
    # ~1 s). Sign sums are exact integers — order-independent.
    li = spread(load_table(spark, sf_dir, "lineitem")).select(
        F.col("l_partkey").cast("string").alias("key")
    )
    est = li.select(
        "key",
        F.explode(F.sequence(F.lit(1), F.lit(_AMS_DEPTH))).alias("est_id"),
    )
    sign = (
        seeded_hash60_col(F.col("est_id"), F.col("key")) % 2
    ) * 2 - 1
    sk = (
        est.select(F.col("est_id").cast("long").alias("est_id"), sign.alias("s"))
        .groupBy("est_id")
        .agg(F.sum("s").cast("long").alias("sketch_sum"))
        .withColumn(
            "estimate", (F.col("sketch_sum") * F.col("sketch_sum")).cast("long")
        )
    )
    w = Window.orderBy(F.asc("estimate"), F.asc("est_id"))
    med = (
        sk.select("estimate", "est_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _AMS_DEPTH // 2)
        .select(F.col("estimate").alias("median_estimate"))
    )
    exact = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("exact_f2"))
    )
    return sk.transform(with_scalars, med).transform(with_scalars, exact).select(
        "est_id", "sketch_sum", "estimate", "median_estimate", "exact_f2"
    )


# --------------------------------------------------------------------------
# HDR (log-linear) histogram quantile sketch
# --------------------------------------------------------------------------

_HDR_SUB = 8  # sub-buckets per power-of-two octave -> <=1/9 relative error
_HDR_QS = ((1, 2), (9, 10), (99, 100), (999, 1000))  # exact rationals

_HDR_ORACLE = f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE o_totalprice > 0),
bkt AS (
  SELECT length(bin(c)) - 1 AS m,
         ((c - (1::BIGINT << (length(bin(c)) - 1))) * {_HDR_SUB})
           // (1::BIGINT << (length(bin(c)) - 1)) AS sub
  FROM v),
h AS (
  SELECT CAST(m * {_HDR_SUB} + sub AS BIGINT) AS bucket,
         CAST(any_value(m) AS BIGINT) AS m, CAST(any_value(sub) AS BIGINT) AS sub,
         CAST(count(*) AS BIGINT) AS bin_n
  FROM bkt GROUP BY 1),
c AS (
  SELECT bucket, m, sub, bin_n,
         CAST(sum(bin_n) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(bin_n) OVER () AS BIGINT) AS n
  FROM h),
q AS ({" UNION ALL ".join(f"SELECT CAST({qn} AS BIGINT) AS qn, CAST({qd} AS BIGINT) AS qd" for qn, qd in _HDR_QS)}),
pick AS (
  SELECT q.qn, q.qd,
         min_by(c.bucket, c.bucket) AS bucket,
         min_by(c.m, c.bucket) AS m,
         min_by(c.sub, c.bucket) AS sub,
         any_value((q.qn * c.n + q.qd - 1) // q.qd) AS target
  FROM q JOIN c ON c.cum >= (q.qn * c.n + q.qd - 1) // q.qd
  GROUP BY 1, 2),
bounds AS (
  SELECT qn, qd, bucket, target,
         (1::BIGINT << m)
           + (sub * (1::BIGINT << m) + {_HDR_SUB} - 1) // {_HDR_SUB} AS lo,
         (1::BIGINT << m)
           + ((sub + 1) * (1::BIGINT << m) + {_HDR_SUB} - 1) // {_HDR_SUB} - 1
           AS hi
  FROM pick)
SELECT CAST(qn AS DOUBLE) / qd AS q, target, bucket,
       lo AS lo_cents, hi AS hi_cents,
       round((lo + hi) / 2.0 / 100.0, 6) AS est,
       round(CAST(hi - lo AS DOUBLE) / (hi + lo), 6) AS rel_err_bound
FROM bounds
"""


@register("hdr_histogram_quantiles", oracle=_HDR_ORACLE)
def hdr_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style log-linear histogram quantile sketch over order
    totals: each positive cent amount lands in one of {sub}
    linear sub-buckets inside its power-of-two octave, giving a
    RELATIVE-error-bounded (<= 1/(2·{sub}+2) at the midpoint readout)
    mergeable histogram whose state is O(octaves · {sub}) counters at
    any data size — the latency/money-metrics sketch
    (HdrHistogram/DDSketch family) beside the equi-width
    histogram_quantiles (absolute error) and tdigest_centroids
    (adaptive centroids).

    Cross-engine exactness: the octave is length(bin(c))-1 — a pure
    string-length floor-log2, no libm log — and sub-bucket, cumsum,
    ceil-rank target ((q_num·N + q_den − 1) div q_den) and the exact
    integer bucket bounds are all BIGINT arithmetic, so the sketch
    readout (not just its contract) hash-matches the oracle. Scale
    shape: one map-side-combinable bucket count over the fact scan;
    everything after runs on the O(buckets) frame (~200 rows).
    """.format(sub=_HDR_SUB)
    o = load_table(spark, sf_dir, "orders")
    v = o.filter(F.col("o_totalprice") > 0).select(
        round_long(F.col("o_totalprice") * 100).alias("c")
    )
    bkt = v.select(
        (F.length(F.bin(F.col("c"))) - 1).cast("long").alias("m"), "c"
    ).select(
        "m",
        F.expr(
            f"((c - shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))) * {_HDR_SUB})"
            " div shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))"
        ).alias("sub"),
    )
    h = (
        bkt.select(
            (F.col("m") * _HDR_SUB + F.col("sub")).cast("long").alias("bucket"),
            "m",
            "sub",
        )
        .groupBy("bucket")
        .agg(
            F.any_value("m").cast("long").alias("m"),
            F.any_value("sub").cast("long").alias("sub"),
            F.count(F.lit(1)).cast("long").alias("bin_n"),
        )
    )
    cw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "bucket",
        "m",
        "sub",
        "bin_n",
        F.sum("bin_n").over(cw).cast("long").alias("cum"),
        F.sum("bin_n").over(Window.partitionBy()).cast("long").alias("n"),
    )
    q = None
    for qn, qd in _HDR_QS:
        row = spark.range(1).select(
            F.lit(qn).cast("long").alias("qn"), F.lit(qd).cast("long").alias("qd")
        )
        q = row if q is None else q.unionByName(row)
    target = F.expr("(qn * n + qd - 1) div qd")
    pick = (
        c.transform(explode_grid, q).filter(F.col("cum") >= target)
        .groupBy("qn", "qd")
        .agg(
            F.min_by("bucket", "bucket").alias("bucket"),
            F.min_by("m", "bucket").alias("m"),
            F.min_by("sub", "bucket").alias("sub"),
            F.any_value(target).alias("target"),
        )
    )
    bounds = pick.select(
        "qn",
        "qd",
        "bucket",
        "target",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) + "
            f"(sub * shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) + {_HDR_SUB - 1})"
            f" div {_HDR_SUB}"
        ).alias("lo"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) + "
            f"((sub + 1) * shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) + {_HDR_SUB - 1})"
            f" div {_HDR_SUB} - 1"
        ).alias("hi"),
    )
    return bounds.select(
        (F.col("qn").cast("double") / F.col("qd")).alias("q"),
        "target",
        "bucket",
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        F.round((F.col("lo") + F.col("hi")) / 2.0 / 100.0, 6).alias("est"),
        F.round(
            (F.col("hi") - F.col("lo")).cast("double")
            / (F.col("hi") + F.col("lo")),
            6,
        ).alias("rel_err_bound"),
    )


# --------------------------------------------------------------------------
# Chapman capture-recapture population estimate
# --------------------------------------------------------------------------

_CHAPMAN_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events),
marked AS (
  SELECT e.user_id,
         CAST(max(CASE WHEN epoch_us(e.ts) * 2 < b.lo + b.hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS in_first,
         CAST(max(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS in_second
  FROM events e CROSS JOIN bounds b
  GROUP BY 1),
s AS (
  SELECT CAST(sum(in_first) AS BIGINT) AS n1,
         CAST(sum(in_second) AS BIGINT) AS n2,
         CAST(sum(in_first * in_second) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_true
  FROM marked)
SELECT n1, n2, m, n_true,
  round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0, 6)
    AS chapman_estimate,
  round(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m))
             / ((CAST(m + 1 AS DOUBLE) * (m + 1)) * (m + 2))), 6)
    AS chapman_se
FROM s
"""


@register("chapman_estimate", oracle=_CHAPMAN_ORACLE)
def chapman_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the total user
    population from two time-window 'captures' (first vs second half
    of the event-time span): N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its
    asymptotic SE — the mark-recapture cardinality estimator that,
    unlike hll_distinct (one full pass, bounded state), infers the
    total INCLUDING never-observed users from overlap structure; the
    true observed count rides along for calibration.

    Scale shape: one pass computes the global time bounds (2-counter
    reduce, broadcast back); one map-side-combinable per-user
    presence aggregate; one 4-counter reduce. The half-split
    comparison uses exact integer microseconds (epoch·2 vs lo+hi —
    no float midpoint).
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"), F.max(us).cast("long").alias("hi")
    )
    marked = (
        e.transform(with_scalars, bounds)
        .groupBy("user_id")
        .agg(
            F.max((us * 2 < F.col("lo") + F.col("hi")).cast("long"))
            .cast("long")
            .alias("in_first"),
            F.max((us * 2 >= F.col("lo") + F.col("hi")).cast("long"))
            .cast("long")
            .alias("in_second"),
        )
    )
    s = marked.agg(
        F.sum("in_first").cast("long").alias("n1"),
        F.sum("in_second").cast("long").alias("n2"),
        F.sum(F.col("in_first") * F.col("in_second")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    n1, n2, mm = F.col("n1"), F.col("n2"), F.col("m")
    return s.select(
        "n1",
        "n2",
        "m",
        "n_true",
        F.round(
            (n1 + 1).cast("double") * (n2 + 1) / (mm + 1) - 1.0, 6
        ).alias("chapman_estimate"),
        F.round(
            F.sqrt(
                (n1 + 1).cast("double")
                * (n2 + 1)
                * (n1 - mm)
                * (n2 - mm)
                / (((mm + 1).cast("double") * (mm + 1)) * (mm + 2))
            ),
            6,
        ).alias("chapman_se"),
    )


# --------------------------------------------------------------------------
# HLL merge audit: shard-wise register max-merge == global rebuild
# --------------------------------------------------------------------------

_HLLM_ORACLE = f"""
WITH h AS (
  SELECT l_linestatus AS shard,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
  FROM lineitem),
rho AS (
  SELECT shard, hv >> {_HLL_WBITS} AS bucket,
         CASE WHEN (hv & {(1 << _HLL_WBITS) - 1}) = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1}
                   - length(format('{{:b}}', hv & {(1 << _HLL_WBITS) - 1}))
         END AS r
  FROM h),
shard_regs AS (
  SELECT shard, bucket, CAST(max(r) AS BIGINT) AS m FROM rho GROUP BY 1, 2),
merged AS (
  SELECT bucket, CAST(max(m) AS BIGINT) AS m FROM shard_regs GROUP BY 1),
global AS (
  SELECT bucket, CAST(max(r) AS BIGINT) AS m FROM rho GROUP BY 1),
cmp AS (
  SELECT count(*) AS n_buckets,
         CAST(sum(CASE WHEN g.m = mg.m THEN 0 ELSE 1 END) AS BIGINT)
           AS n_mismatch
  FROM global g JOIN merged mg USING (bucket)),
est AS (
  SELECT
    CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m)) AS BIGINT)
      + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SHIFT})
      AS s_merged
  FROM merged),
estg AS (
  SELECT
    CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m)) AS BIGINT)
      + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SHIFT})
      AS s_global
  FROM global),
shards AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_shards FROM h)
SELECT sh.n_shards, CAST(c.n_buckets AS BIGINT) AS n_buckets,
       c.n_mismatch,
       round({_HLL_NUM!r} / CAST(e.s_merged AS DOUBLE), 4) AS est_merged,
       round({_HLL_NUM!r} / CAST(g.s_global AS DOUBLE), 4) AS est_global,
       CAST(e.s_merged = g.s_global AS BIGINT) AS merge_exact
FROM cmp c CROSS JOIN est e CROSS JOIN estg g CROSS JOIN shards sh
"""


@register("hll_merge_audit", oracle=_HLLM_ORACLE)
def hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability audit: build per-shard register tables
    (shards = line status — any partitioning works), max-merge them,
    and prove the merged sketch is BIT-IDENTICAL to a global rebuild
    (register mismatches = 0, scaled harmonic sums equal, one flag
    column) — the algebraic property (max is
    associative-commutative) that lets 1000 executors sketch 100 TB
    independently and combine results without a second pass; the
    sibling identity to incremental_agg_merge (sums) for sketch
    state.

    Scale shape: register tables are bounded at shards × {m} cells;
    the merge, comparison and both estimates run on O({m}) frames.
    Same portable-hash register derivation as hll_distinct, so the
    oracle replays everything including the estimates.
    """.format(m=_HLL_M)
    from dissertation_iceberg_spark.functions.hashing import hash60

    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_linestatus").alias("shard"),
        hash60(F.col("l_orderkey").cast("string")).alias("hv"),
    )
    w = F.col("hv").bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    rho = h.select(
        "shard",
        F.shiftright("hv", _HLL_WBITS).alias("bucket"),
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
        .alias("r"),
    )
    shard_regs = rho.groupBy("shard", "bucket").agg(
        F.max("r").cast("long").alias("m")
    )
    merged = shard_regs.groupBy("bucket").agg(
        F.max("m").cast("long").alias("m")
    )
    global_regs = rho.groupBy("bucket").agg(F.max("r").cast("long").alias("m"))
    cmp = global_regs.alias("g").join(
        merged.select(F.col("bucket"), F.col("m").alias("mm")), "bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("m") != F.col("mm")).cast("long"))
        .cast("long")
        .alias("n_mismatch"),
    )

    def scaled_sum(regs):
        return regs.agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT} - m)"))
                + (_HLL_M - F.count(F.lit(1)))
                * F.lit(1 << _HLL_SHIFT).cast("long")
            )
            .cast("long")
            .alias("s")
        )

    e = scaled_sum(merged).select(F.col("s").alias("s_merged"))
    g = scaled_sum(global_regs).select(F.col("s").alias("s_global"))
    shards = h.agg(F.countDistinct("shard").cast("long").alias("n_shards"))
    return (
        cmp.transform(with_scalars, e)
        .transform(with_scalars, g)
        .transform(with_scalars, shards)
        .select(
            "n_shards",
            "n_buckets",
            "n_mismatch",
            F.round(F.lit(_HLL_NUM) / F.col("s_merged").cast("double"), 4).alias(
                "est_merged"
            ),
            F.round(F.lit(_HLL_NUM) / F.col("s_global").cast("double"), 4).alias(
                "est_global"
            ),
            (F.col("s_merged") == F.col("s_global")).cast("long").alias(
                "merge_exact"
            ),
        )
    )


# --------------------------------------------------------------------------
# Feature-hashing (hashing trick) collision audit
# --------------------------------------------------------------------------

_FH_WIDTH = 1 << 12  # 4096 hash buckets


def _fh_oracle() -> str:
    from dissertation_iceberg_spark.functions.hashing import hash60_sql

    return f"""
WITH toks AS (
  SELECT unnest({_TOKENS}) AS term FROM documents),
tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
hashed AS (
  SELECT term, f, {hash60_sql("term")} % {_FH_WIDTH} AS bucket FROM tf),
buckets AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(f) AS BIGINT) AS mass
  FROM hashed GROUP BY 1),
s AS (
  SELECT CAST(sum(n_terms) AS BIGINT) AS vocab,
         CAST(count(*) AS BIGINT) AS used,
         CAST(sum(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END) AS BIGINT)
           AS colliding_terms,
         CAST(sum(CASE WHEN n_terms > 1 THEN mass ELSE 0 END) AS BIGINT)
           AS colliding_mass,
         CAST(sum(mass) AS BIGINT) AS total_mass,
         CAST(max(n_terms) AS BIGINT) AS max_bucket_terms
  FROM buckets)
SELECT vocab, used, CAST({_FH_WIDTH} AS BIGINT) AS width,
       colliding_terms, max_bucket_terms,
       round(CAST(colliding_terms AS DOUBLE) / vocab, 6)
         AS term_collision_rate,
       round(CAST(colliding_mass AS DOUBLE) / total_mass, 6)
         AS mass_collision_rate
FROM s
"""


@register("hashing_trick_audit", oracle=_fh_oracle())
def hashing_trick_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: hash the
    document vocabulary into {w} buckets with the portable 60-bit
    hash and report how much of the vocabulary — and how much of the
    token MASS — lands in shared buckets, plus the worst bucket — the
    'is this hash width safe for my vocab' sizing readout every
    hashed-feature model (and count-min user) needs before training.

    Scale shape: one token explode + (term, count) aggregate (the
    vocab frame), one bucket rollup bounded at {w} cells, one 1-row
    reduce; the hash is the md5-derived portable family, so the
    oracle replays bucket assignments exactly.
    """.format(w=_FH_WIDTH)
    from dissertation_iceberg_spark.functions.hashing import hash60

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("f"))
    hashed = tf.select(
        "term", "f", (hash60(F.col("term")) % _FH_WIDTH).alias("bucket")
    )
    buckets = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("f").cast("long").alias("mass"),
    )
    s = buckets.agg(
        F.sum("n_terms").cast("long").alias("vocab"),
        F.count(F.lit(1)).cast("long").alias("used"),
        F.sum(F.when(F.col("n_terms") > 1, F.col("n_terms")).otherwise(0))
        .cast("long")
        .alias("colliding_terms"),
        F.sum(F.when(F.col("n_terms") > 1, F.col("mass")).otherwise(0))
        .cast("long")
        .alias("colliding_mass"),
        F.sum("mass").cast("long").alias("total_mass"),
        F.max("n_terms").cast("long").alias("max_bucket_terms"),
    )
    return s.select(
        "vocab",
        "used",
        F.lit(_FH_WIDTH).cast("long").alias("width"),
        "colliding_terms",
        "max_bucket_terms",
        F.round(
            F.col("colliding_terms").cast("double") / F.col("vocab"), 6
        ).alias("term_collision_rate"),
        F.round(
            F.col("colliding_mass").cast("double") / F.col("total_mass"), 6
        ).alias("mass_collision_rate"),
    )
