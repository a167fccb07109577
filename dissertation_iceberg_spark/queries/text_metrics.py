"""Corpus-level text metrics (round 3, third session): the Zipf
rank-frequency slope, n-gram diversity ratios, and character-level
entropy — the corpus-health statistics a training-data pipeline
monitors per ingest batch (skewed Zipf slope => boilerplate floods;
collapsing trigram diversity => template spam; entropy drops =>
encoding damage).

Parity strategy (the repo's standard tricks): evidence sums ride as
exact integers (log values in 1e-6 "micro-nat" units, one round per
term, identical in both engines); the final slope/entropy arithmetic
runs in IEEE double over those exact integers with the SAME expression
shape on both sides, then rounds to 6 dp. The only cross-engine
exposure is the half-ulp rounding-tie class on round(ln(k)*1e6)
documented in corpus_ops.unigram_logprob — probability ~1e-9 per term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import round_long

# --------------------------------------------------------------------------
# Zipf slope: log-log OLS over the top-K rank-frequency curve
# --------------------------------------------------------------------------

_ZIPF_TOPK = 1000

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
counts AS (
  SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY 1),
top AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS r
  FROM counts ORDER BY n DESC, tok LIMIT {_ZIPF_TOPK}),
xy AS (
  SELECT CAST(round(ln(r) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(n) * 1e6) AS BIGINT) AS y
  FROM top),
s AS (
  SELECT count(*) AS n_terms,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy)
SELECT n_terms,
  round((CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
    AS zipf_slope,
  round(((CAST(sy AS DOUBLE)
          - (CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * CAST(sx AS DOUBLE))
         / CAST(n_terms AS DOUBLE)) / 1e6, 6) AS intercept_ln,
  round((CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        * (CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / ((CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           * (CAST(n_terms AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
    AS r2
FROM s
"""


@register("zipf_slope", oracle=_ZIPF_ORACLE)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS of ln(frequency) on ln(rank) over the top
    {k} vocabulary terms. A healthy natural-language corpus sits near
    slope -1; template/boilerplate floods flatten the head and
    machine-generated spam steepens it — the cheapest corpus-drift
    alarm there is.

    Scale shape: the vocab count is one fact-scale
    map-side-combinable aggregate; the top-K is TakeOrderedAndProject
    (per-partition heaps, no global sort); ranking and the OLS
    moments run on the K-row frame (bounded window, like the repo's
    other O(bounded) frames). Evidence sums are exact micro-nat
    integers, so both engines feed IDENTICAL bigints into the one
    display-only double expression.""".format(k=_ZIPF_TOPK)
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(_ZIPF_TOPK)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok")))
    )
    xy = ranked.select(
        round_long(F.log(F.col("r").cast("double")) * 1e6).alias("x"),
        round_long(F.log(F.col("n").cast("double")) * 1e6).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n_terms").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    slope = num / denx
    return s.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            ((F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd)
            / 1e6,
            6,
        ).alias("intercept_ln"),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# N-gram diversity: type-token ratio and distinct-trigram ratio per source
# --------------------------------------------------------------------------

_TRI_SEP = chr(31)  # unit separator — cannot appear in space-split tokens

_DIVERSITY_ORACLE = f"""
WITH t AS (
  SELECT source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
uni AS (
  SELECT source, count(*) AS n_unigrams,
         count(DISTINCT tok) AS n_distinct_unigrams
  FROM (SELECT source, unnest(toks) AS tok FROM t)
  GROUP BY 1),
tri AS (
  SELECT source, count(*) AS n_trigrams,
         count(DISTINCT g) AS n_distinct_trigrams
  FROM (
    SELECT source,
           unnest(list_transform(
             generate_series(1, len(toks) - 2),
             i -> toks[i] || '{_TRI_SEP}' || toks[i + 1]
                  || '{_TRI_SEP}' || toks[i + 2])) AS g
    FROM t WHERE len(toks) >= 3)
  GROUP BY 1)
SELECT uni.source, n_unigrams, n_distinct_unigrams,
       round(CAST(n_distinct_unigrams AS DOUBLE) / n_unigrams, 6) AS ttr,
       n_trigrams, n_distinct_trigrams,
       round(CAST(n_distinct_trigrams AS DOUBLE) / n_trigrams, 6)
         AS trigram_diversity
FROM uni JOIN tri ON uni.source = tri.source
"""


@register("ngram_diversity", oracle=_DIVERSITY_ORACLE)
def ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: type-token ratio (distinct
    unigrams / unigrams) and distinct-trigram ratio — the standard
    template-spam detector (near-duplicate boilerplate keeps TTR
    steady but collapses trigram diversity toward 0).

    Trigrams join tokens with the unit separator (cannot occur inside
    a space-split token), so distinct-counting never aliases across
    token boundaries. The <3-token guard mirrors DuckDB's empty
    generate_series — Spark's F.sequence REVERSES when start > stop
    (the repo's chunking bug class), hence the explicit when().

    Scale shape: two explode->distinct-count aggregates keyed by the
    bounded source dim; count(DISTINCT) plans as partial-distinct, so
    the shuffle carries O(distinct) rows, not O(tokens); the final
    join is dim x dim."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "source",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("toks"),
    )
    uni = (
        t.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_unigrams"),
            F.countDistinct("tok").alias("n_distinct_unigrams"),
        )
    )
    sz = F.size("toks")
    grams = F.when(
        sz >= 3,
        F.transform(
            F.sequence(F.lit(1), sz - 2),
            lambda i: F.concat_ws(
                _TRI_SEP,
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = (
        t.select("source", F.explode(grams).alias("g"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.countDistinct("g").alias("n_distinct_trigrams"),
        )
    )
    return uni.join(tri, "source").select(
        "source",
        "n_unigrams",
        "n_distinct_unigrams",
        F.round(
            F.col("n_distinct_unigrams").cast("double") / F.col("n_unigrams"), 6
        ).alias("ttr"),
        "n_trigrams",
        "n_distinct_trigrams",
        F.round(
            F.col("n_distinct_trigrams").cast("double") / F.col("n_trigrams"), 6
        ).alias("trigram_diversity"),
    )


# --------------------------------------------------------------------------
# Character entropy per source (encoding-damage / compression proxy)
# --------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT source, unnest(string_split_regex(text, '')) AS ch
  FROM documents),
cc AS (
  SELECT source, ch, count(*) AS n
  FROM chars WHERE ch <> '' GROUP BY 1, 2),
s AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_chars,
         count(*) AS n_distinct_chars,
         CAST(sum(n * CAST(round(ln(n) * 1e6) AS BIGINT)) AS BIGINT)
           AS s_micro
  FROM cc GROUP BY 1)
SELECT source, n_chars, n_distinct_chars,
  round((round(ln(n_chars) * 1e6)
         - CAST(s_micro AS DOUBLE) / n_chars) / 1e6, 6) AS entropy_nats
FROM s
"""


@register("char_entropy", oracle=_ENTROPY_ORACLE)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the character distribution per
    source, via H = ln(N) - (1/N) * sum n_c ln n_c — the cheap
    compression-ratio proxy: mojibake and binary contamination spike
    it, template floods sink it.

    The evidence sum S = sum(n_c * round(ln(n_c)*1e6)) is an exact
    integer (micro-nats), so both engines agree bit-for-bit up to the
    documented ln half-ulp tie; the single double division happens at
    display. Scale shape: char histogram is a map-side-combinable
    aggregate on the tiny (source x charset) key space — partial
    aggregation collapses each 100 TB scan task to O(charset) rows
    before any shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cc = (
        docs.select("source", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("source", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = cc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(
            F.col("n") * round_long(F.log(F.col("n").cast("double")) * 1e6)
        )
        .cast("long")
        .alias("s_micro"),
    )
    return s.select(
        "source",
        "n_chars",
        "n_distinct_chars",
        F.round(
            (
                F.round(F.log(F.col("n_chars").cast("double")) * 1e6)
                - F.col("s_micro").cast("double") / F.col("n_chars")
            )
            / 1e6,
            6,
        ).alias("entropy_nats"),
    )


# --------------------------------------------------------------------------
# Pairwise source vocabulary overlap (corpus-mixture diagnostics)
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH vs AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT source, count(*) AS vsize FROM vs GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM vs a JOIN vs b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT s.source_a, s.source_b, s.n_shared,
       round(CAST(s.n_shared AS DOUBLE) / least(x.vsize, y.vsize), 6)
         AS overlap_coeff,
       round(CAST(s.n_shared AS DOUBLE)
             / (x.vsize + y.vsize - s.n_shared), 6) AS jaccard
FROM shared s
JOIN sizes x ON s.source_a = x.source
JOIN sizes y ON s.source_b = y.source
"""


@register("source_vocab_overlap", oracle=_OVERLAP_ORACLE)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources (Szymkiewicz-
    Simpson coefficient + Jaccard) — the mixture diagnostic that
    flags near-duplicate source feeds before they double-count in
    training-mixture weights (pairs with mixture_weights and
    per_source_contamination).

    Scale shape: the vocab collapses to distinct (source, token)
    FIRST (partial-distinct shuffle of O(distinct) rows, not
    O(tokens)); the pair expansion is the inverted-index equi-join on
    token — each token contributes only its own source-pair
    combinations, bounded by sources^2, never a corpus-size
    cartesian; size frames broadcast. Output is O(sources^2) rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    vs = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = vs.groupBy("source").agg(F.count(F.lit(1)).alias("vsize"))
    b = vs.select(F.col("source").alias("source_b"), F.col("tok").alias("tok_b"))
    shared = (
        vs.join(
            b,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sx = sizes.select(F.col("source").alias("sa"), F.col("vsize").alias("va"))
    sy = sizes.select(F.col("source").alias("sb"), F.col("vsize").alias("vb"))
    return (
        shared.join(F.broadcast(sx), F.col("source_a") == F.col("sa"))
        .join(F.broadcast(sy), F.col("source_b") == F.col("sb"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least(F.col("va"), F.col("vb")),
                6,
            ).alias("overlap_coeff"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Per-source KL divergence from the corpus unigram distribution
# --------------------------------------------------------------------------

_KL_ORACLE = """
WITH toks AS (
  SELECT source, unnest(list_filter(str_split(text, ' '), x -> x <> ''))
           AS term
  FROM documents),
sw AS (SELECT source, term, count(*) AS n_sw FROM toks GROUP BY 1, 2),
w AS (SELECT term, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY 1),
s AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
t AS (SELECT CAST(sum(n_w) AS BIGINT) AS n FROM w),
terms AS (
  SELECT sw.source, sw.n_sw,
         CAST(round(ln(CAST(sw.n_sw AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(s.n_s AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(w.n_w AS DOUBLE)) * 1e6) AS BIGINT)
           + CAST(round(ln(CAST(t.n AS DOUBLE)) * 1e6) AS BIGINT) AS lr_micro
  FROM sw JOIN w ON sw.term = w.term
  JOIN s ON sw.source = s.source, t)
SELECT source,
       CAST(sum(n_sw * lr_micro) AS BIGINT) AS kl_evidence_micro,
       round(CAST(sum(n_sw * lr_micro) AS DOUBLE)
             / any_value(s.n_s) / 1e6, 6) AS kl_nats
FROM terms JOIN s USING (source)
GROUP BY 1
"""


@register("source_kl_divergence", oracle=_KL_ORACLE)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus distribution — the mixture-health number that quantifies
    HOW different a source's token usage is (complements
    source_vocab_overlap's set view with a mass view): KL(P_s ‖ P_c)
    = Σ_w p_s(w)·ln(p_s(w)/p_c(w)). High-KL sources dominate mixture
    re-weighting decisions; near-zero KL flags redundant feeds.

    Exactness: expand the log-ratio to ln(n_sw)−ln(n_s)−ln(n_w)+ln(n)
    and micro-round each ln ONCE per distinct argument — after that
    the per-source reduction Σ n_sw·lr_micro is exact integer
    arithmetic (order-free across shuffles); the single display
    division per source divides exact integers. Same documented
    half-ulp libm-tie residual class as unigram_logprob.

    Scale shape: one token-keyed count (map-side combinable), the
    corpus marginal re-aggregated from the ALREADY-COLLAPSED
    (source, term) table (O(term types), never O(tokens)), one
    term-keyed equi-join (hot stopwords = AQE skew-join territory),
    one O(sources) rollup. No collect, no UDF, no sort."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )
    sw = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_sw"))
    w = sw.groupBy("term").agg(F.sum("n_sw").cast("long").alias("n_w"))
    s = sw.groupBy("source").agg(F.sum("n_sw").cast("long").alias("n_s"))
    t = w.agg(F.sum("n_w").cast("long").alias("n"))

    def ln_micro(c):
        return round_long(F.log(c.cast("double")) * 1e6)

    terms = (
        sw.join(w, "term")
        .join(F.broadcast(s), "source")
        .transform(with_scalars, t)
        .select(
            "source",
            "n_sw",
            "n_s",
            (
                ln_micro(F.col("n_sw"))
                - ln_micro(F.col("n_s"))
                - ln_micro(F.col("n_w"))
                + ln_micro(F.col("n"))
            ).alias("lr_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum(F.col("n_sw") * F.col("lr_micro"))
        .cast("long")
        .alias("kl_evidence_micro"),
        F.round(
            F.sum(F.col("n_sw") * F.col("lr_micro")).cast("double")
            / F.any_value("n_s")
            / 1e6,
            6,
        ).alias("kl_nats"),
    )


# --------------------------------------------------------------------------
# Cross-source quantile normalization (batch-effect correction)
# --------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars AS v FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
ranked AS (
  SELECT doc_id, source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM d),
keyed AS (
  SELECT source, v, n_s,
         CAST(ceil(CAST(r AS DOUBLE) * n_total / n_s) AS BIGINT) AS k
  FROM ranked CROSS JOIN n),
pooled AS (
  SELECT v, count(*) AS f,
         CAST(sum(count(*)) OVER (ORDER BY v) AS BIGINT) AS cum
  FROM d GROUP BY v),
rankmap AS (
  SELECT unnest(range(cum - f + 1, cum + 1)) AS k, v AS pooled_v
  FROM pooled)
SELECT keyed.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(keyed.v) AS BIGINT) AS sum_raw,
       CAST(sum(rankmap.pooled_v) AS BIGINT) AS sum_qnorm,
       round(CAST(sum(keyed.v) AS DOUBLE) / count(*), 6) AS mean_raw,
       round(CAST(sum(rankmap.pooled_v) AS DOUBLE) / count(*), 6)
         AS mean_qnorm
FROM keyed JOIN rankmap ON keyed.k = rankmap.k
GROUP BY 1
"""


@register("quantile_normalize_sources", oracle=_QNORM_ORACLE)
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the document-length
    distribution: each doc's value is replaced by the POOLED order
    statistic at its within-source quantile (rank r of n_s maps to
    pooled rank ceil(r*N/n_s)), the microarray-style batch-effect
    correction that makes per-source quality scores comparable before
    mixture weighting (a crawler source that systematically truncates
    pages would otherwise dominate any global length filter). Emits
    per-source before/after sums and means — after normalization every
    source draws from the same pooled distribution.

    Scale shape: the within-source rank is a source-partitioned window
    (bounded partitions, no global sort); the pooled distribution is a
    distinct-VALUE frame (O(distinct lengths) window — value-domain
    bounded, not row-scale) exploded into an O(N) dense rank->value
    map that equi-joins on the integer rank key. Two shuffles (rank
    map build, k-keyed join), both linear; nothing collects.

    Parity: values and ranks are exact integers end-to-end; ceil of
    the double quantile product is the only float step and both
    engines evaluate the identical expression (r*N/n_s exact in double
    well past these magnitudes); sums are exact BIGINT, means a final
    display division."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("v")
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    w_src = Window.partitionBy("source").orderBy("v", "doc_id")
    ranked = d.select(
        "source",
        "v",
        F.row_number().over(w_src).alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n_s"),
    )
    keyed = ranked.transform(with_scalars, n).select(
        "source",
        "v",
        F.ceil(F.col("r").cast("double") * F.col("n_total") / F.col("n_s"))
        .cast("long")
        .alias("k"),
    )
    pooled = (
        d.groupBy("v")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "v",
            "f",
            F.sum("f").over(Window.orderBy("v")).cast("long").alias("cum"),
        )
    )
    rankmap = pooled.select(
        F.explode(
            F.sequence(F.col("cum") - F.col("f") + 1, F.col("cum"))
        ).alias("k"),
        F.col("v").alias("pooled_v"),
    )
    return (
        keyed.join(rankmap, "k")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("v").cast("long").alias("sum_raw"),
            F.sum("pooled_v").cast("long").alias("sum_qnorm"),
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_raw"
            ),
            F.round(
                F.sum("pooled_v").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_qnorm"),
        )
    )


# --------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source unigram mixtures
# --------------------------------------------------------------------------

_LN2_MICRO = 693147  # round(ln(2) * 1e6)

_JS_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(str_split(text, ' '), x -> x <> ''))
           AS term
  FROM documents),
sw AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
       FROM toks GROUP BY 1, 2),
s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM sw GROUP BY 1),
pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS na, b.n AS nb, sa.n_s AS tot_a, sb.n_s AS tot_b
  FROM sw a JOIN sw b ON a.term = b.term AND a.source < b.source
  JOIN s sa ON a.source = sa.source
  JOIN s sb ON b.source = sb.source),
ev AS (
  SELECT source_a, source_b, any_value(tot_a) AS tot_a,
         any_value(tot_b) AS tot_b,
         CAST(sum(na) AS BIGINT) AS shared_a,
         CAST(sum(nb) AS BIGINT) AS shared_b,
         CAST(sum(na * (
           CAST(round(ln(CAST(2 * na * tot_b AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(na * tot_b + nb * tot_a AS DOUBLE)) * 1e6)
                  AS BIGINT))) AS BIGINT) AS ev_a,
         CAST(sum(nb * (
           CAST(round(ln(CAST(2 * nb * tot_a AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(na * tot_b + nb * tot_a AS DOUBLE)) * 1e6)
                  AS BIGINT))) AS BIGINT) AS ev_b
  FROM pair GROUP BY 1, 2)
SELECT source_a, source_b,
       CAST(round((
         (CAST(ev_a + (tot_a - shared_a) * {_LN2_MICRO} AS DOUBLE)
            / tot_a
          + CAST(ev_b + (tot_b - shared_b) * {_LN2_MICRO} AS DOUBLE)
            / tot_b) / 2 / 1e6
       ) * 1e6) AS BIGINT) / 1e6 AS js_nats
FROM ev
"""


@register("source_js_divergence", oracle=_JS_ORACLE)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the SYMMETRIC, bounded ([0, ln 2])
    companion to source_kl_divergence's source-vs-corpus view; the
    standard pairwise-redundancy matrix for mixture design (a near-0
    JS pair is the same feed twice; near-ln2 pairs are disjoint
    domains).

    Key identity that keeps this join INNER, not outer: a term present
    only in source a has m = p_a/2, so its contribution is exactly
    p_a*ln2 — the one-sided mass folds into the closed form
    (tot_a - shared_a)*ln2 and only SHARED terms need the pair join.

    Scale shape: one token reduction to (source, term), a term-keyed
    self-join (fanout bounded by sources-per-term <= k; AQE skew-join
    handles stopword keys), and a k^2-cell exact integer aggregate.

    Parity: per-term log arguments are exact integer products
    (na*tot_b etc.), micro-rounded once, multiplied by integer counts
    and summed exactly; the one display expression divides exact
    integers. Same half-ulp libm residual class as
    source_kl_divergence."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )
    sw = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = sw.groupBy("source").agg(F.sum("n").cast("long").alias("n_s"))
    a = sw.select(
        F.col("source").alias("source_a"), "term", F.col("n").alias("na")
    )
    b = sw.select(
        F.col("source").alias("source_b"), "term", F.col("n").alias("nb")
    )
    sa = s.select(F.col("source").alias("source_a"), F.col("n_s").alias("tot_a"))
    sb = s.select(F.col("source").alias("source_b"), F.col("n_s").alias("tot_b"))
    pair = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
    )

    def lnm(c):
        return round_long(F.log(c.cast("double")) * 1e6)

    mden = F.col("na") * F.col("tot_b") + F.col("nb") * F.col("tot_a")
    ev = pair.groupBy("source_a", "source_b").agg(
        F.any_value("tot_a").alias("tot_a"),
        F.any_value("tot_b").alias("tot_b"),
        F.sum("na").cast("long").alias("shared_a"),
        F.sum("nb").cast("long").alias("shared_b"),
        F.sum(
            F.col("na") * (lnm(2 * F.col("na") * F.col("tot_b")) - lnm(mden))
        )
        .cast("long")
        .alias("ev_a"),
        F.sum(
            F.col("nb") * (lnm(2 * F.col("nb") * F.col("tot_a")) - lnm(mden))
        )
        .cast("long")
        .alias("ev_b"),
    )
    js = (
        (
            (
                F.col("ev_a")
                + (F.col("tot_a") - F.col("shared_a")) * _LN2_MICRO
            ).cast("double")
            / F.col("tot_a")
            + (
                F.col("ev_b")
                + (F.col("tot_b") - F.col("shared_b")) * _LN2_MICRO
            ).cast("double")
            / F.col("tot_b")
        )
        / 2
        / F.lit(1e6)
    )
    return ev.select(
        "source_a",
        "source_b",
        (round_long(js * 1e6) / F.lit(1e6)).alias("js_nats"),
    )


# --------------------------------------------------------------------------
# Readability scores per source (Flesch-style, syllable proxy)
# --------------------------------------------------------------------------

_READ_ORACLE = """
WITH docs2 AS (
  SELECT source, doc_id, text,
    CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT)
      AS n_words,
    CAST(greatest(len(str_split(text, '.')) - 1, 1) AS BIGINT)
      AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      AS n_vowel_groups
  FROM documents),
s AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_words) AS BIGINT) AS words,
    CAST(sum(n_sentences) AS BIGINT) AS sentences,
    CAST(sum(n_vowel_groups) AS BIGINT) AS vgroups
  FROM docs2 GROUP BY 1)
SELECT source, n_docs, words, sentences,
  round(CAST(words AS DOUBLE) / sentences, 6) AS words_per_sentence,
  round(CAST(vgroups AS DOUBLE) / words, 6) AS syllables_per_word,
  round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
        - 84.6 * (CAST(vgroups AS DOUBLE) / words), 6) AS flesch_ease
FROM s
"""


@register("readability_scores", oracle=_READ_ORACLE)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source with a vowel-group syllable
    proxy: 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word) —
    the document-complexity screen a corpus-mixture builder reads
    beside quality_score (hygiene ratios) and hill_diversity
    (vocabulary): same quality band, very different reading levels ⇒
    different curricula.

    Determinism and scale: words, sentences (period splits, min 1)
    and vowel groups ([aeiouy]+ runs — identical regex semantics in
    both engines for this ASCII class) are exact integer counts per
    doc, summed per source; the Flesch constants are decimal literals
    and the two ratios are single IEEE divisions.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_words = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    n_sentences = F.greatest(
        F.size(F.split(F.col("text"), "\\.")) - 1, F.lit(1)
    )
    n_vg = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    d2 = docs.select(
        "source",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_vg.cast("long").alias("n_vowel_groups"),
    )
    s = d2.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_sentences").cast("long").alias("sentences"),
        F.sum("n_vowel_groups").cast("long").alias("vgroups"),
    )
    wps = F.col("words").cast("double") / F.col("sentences")
    # zero-word source guard (round-7 tiny fuzz: a source whose only
    # doc is empty): syllables/word undefined — NULL on both engines
    # (DuckDB's division by zero is NULL-valued); sentences >= 1 by
    # the greatest(.., 1) floor so wps needs no guard
    spw = F.when(
        F.col("words") > 0,
        F.col("vgroups").cast("double") / F.col("words"),
    )
    return s.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias("flesch_ease"),
    )
