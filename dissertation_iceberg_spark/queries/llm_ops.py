"""LLM-data-pipeline queries over documents/embeddings (extension
surface, SURVEY §7 step 9): dedup, text analysis, similarity search.

Token semantics are pinned to "whitespace split, empties dropped" in
both engines; similarity sums run positionally over 64-element vectors
cast to double element-wise, so scores agree bit-for-bit before the
final 6-dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.operators import dedup as dd
from dissertation_iceberg_spark.operators import text as tx
from dissertation_iceberg_spark.operators.similarity import (
    cosine,
    cosine_topk,
    vec_norm,
)
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    bcast_params,
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.functions.exact import r6, round_long

# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# --------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
"""


@register("exact_dedup_groups", oracle=_EXACT_DEDUP_ORACLE)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups keyed by content hash — at 100 TB the md5 key
    keeps the shuffle row narrow regardless of document size."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup_groups(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# Token statistics
# --------------------------------------------------------------------------

_TOKENS = "list_filter(str_split(text, ' '), x -> x <> '')"

_TOKEN_ORACLE = f"""
SELECT doc_id,
  length(text) AS n_chars,
  CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct({_TOKENS})) AS BIGINT) AS n_unique_tokens,
  CASE WHEN len({_TOKENS}) > 0 THEN
    round(CAST(list_sum(list_transform({_TOKENS}, x -> length(x))) AS DOUBLE)
          / len({_TOKENS}), 6) END AS mean_token_len
FROM documents
"""


@register("token_stats", oracle=_TOKEN_ORACLE)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct count, mean length —
    per-row expressions, no shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = tx.token_stats(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
        "mean_token_len",
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------

_SW = "['the','a','of','and','in','to','is']"

_QUALITY_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CASE WHEN len(toks) > 0 THEN
    round(CAST(len(list_filter(toks, x -> list_contains({_SW}, lower(x)))) AS DOUBLE)
          / len(toks), 6) END AS stopword_ratio,
  CASE WHEN len(toks) > 0 THEN
    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
    END AS unique_ratio,
  CASE WHEN len(toks) > 0 THEN
    round(CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
          + 0.3 * least(CAST(len(list_filter(toks, x -> list_contains({_SW}, lower(x))))
                             AS DOUBLE) / len(toks) * 4, 1.0)
          + 0.3 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
    END AS quality
FROM t
"""


@register("quality_score", oracle=_QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword/uniqueness/length features
    composited into [0,1] — codegen-only, no UDF."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = tx.quality_score(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio",
        "unique_ratio",
        "quality",
    )


# --------------------------------------------------------------------------
# Content fingerprinting
# --------------------------------------------------------------------------

_FP_ORACLE = """
SELECT doc_id, md5(text) AS md5 FROM documents
"""


@register("fingerprint_md5", oracle=_FP_ORACLE)
def fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 hex (identical across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.fingerprint(docs, "text", "doc_id").select("doc_id", "md5")


# --------------------------------------------------------------------------
# Language-ID heuristic
# --------------------------------------------------------------------------


def _lang_oracle() -> str:
    toks = "list_filter(str_split(lower(text), ' '), x -> x <> '')"
    hits = {
        lang: (
            f"len(list_filter({toks}, x -> list_contains("
            f"[{', '.join(repr(w) for w in tx.LANG_PROFILES[lang])}], x)))"
        )
        for lang in sorted(tx.LANG_PROFILES)
    }
    best = "greatest(" + ", ".join(hits[l] for l in sorted(hits)) + ")"
    # tie semantics mirror Spark array_max over (hits, lang) structs:
    # max hits, ties -> lexicographically LARGEST lang code
    ladder = " ".join(
        f"WHEN {hits[lang]} = {best} THEN '{lang}'"
        for lang in sorted(tx.LANG_PROFILES, reverse=True)
    )
    return f"""
SELECT doc_id,
  CASE {ladder} END AS pred_lang,
  CAST({best} AS BIGINT) AS lang_hits
FROM documents
"""


@register("lang_id", oracle=_lang_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword-profile vote,
    argmax with deterministic tie-break."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = tx.lang_id(docs, "text", "doc_id")
    return out.select(
        "doc_id", "pred_lang", F.col("lang_hits").cast("long").alias("lang_hits")
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k (similarity-search baseline)
# --------------------------------------------------------------------------

QUERY_MOD = 50
TOP_K = 3

_COSINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT unnest(q.qvec) AS x, unnest(e.embedding) AS y) z) AS dot,
    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
     FROM (SELECT unnest(q.qvec) AS x) z) AS nq,
    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT unnest(e.embedding) AS y) z) AS ne
  FROM embeddings e, q WHERE q.qid <> e.vec_id)
SELECT qid, neighbor_id,
       round(dot / (sqrt(nq) * sqrt(ne)), 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY qid
            ORDER BY round(dot / (sqrt(nq) * sqrt(ne)), 6) DESC, neighbor_id)
            AS BIGINT) AS rnk
FROM pairs
QUALIFY rnk <= {TOP_K}
"""


@register("cosine_topk", oracle=_COSINE_ORACLE)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set × corpus, JVM-side
    zip_with/aggregate dot products, per-query row_number. The ANN
    scale path (hyperplane LSH buckets) lives in
    operators.similarity.lsh_cosine_topk (tested, rows-only)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=TOP_K)
    return out.select(
        "qid", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk")
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (inverted-index join)
# --------------------------------------------------------------------------

JACCARD_N = 3
JACCARD_THRESHOLD = 0.2
# 100 TB-safe driver default: drop stop-shingles shared by more than
# this many docs BEFORE pair expansion (capped-universe semantics —
# sizes are post-cap too; operators/dedup.py:jaccard_near_dup_pairs).
# On the driver fixtures df is measured <= 25, so the cap is a no-op
# there (pinned by tests/test_properties.py::test_jaccard_cap_noop) —
# it exists so the REGISTERED plan is the one that survives a viral
# stop-shingle at 100x (round-4 basket-cap precedent).
MAX_SHINGLE_FREQ = 256

_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {JACCARD_N - 1}),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
keepsh AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) <= {MAX_SHINGLE_FREQ}),
sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
      >= {JACCARD_THRESHOLD}
  AND sa.sz >= {JACCARD_THRESHOLD} * sb.sz
  AND sb.sz >= {JACCARD_THRESHOLD} * sa.sz
"""


@register("jaccard_near_dups", oracle=_JACCARD_ORACLE)
def jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3-gram Jaccard via inverted-index
    posting-list expansion, registered on the CAPPED plan
    (max_shingle_freq=256, the 100 TB-safe default — capped-universe
    semantics, oracle cap-matched). The uncapped joinless one-pass
    shape remains callable via max_shingle_freq=None."""
    raw = load_table(spark, sf_dir, "documents")
    out = dd.jaccard_near_dup_pairs(
        spread(raw), "text", "doc_id", n=JACCARD_N,
        threshold=JACCARD_THRESHOLD, max_shingle_freq=MAX_SHINGLE_FREQ,
        bound_src=raw,
    )
    return out.select(
        "id_a", "id_b", F.col("n_inter").cast("long").alias("n_inter"), "jaccard"
    )


# --------------------------------------------------------------------------
# Near-dup CLUSTERS: transitive closure of the pair graph (round 2).
# The Spark side iterates min-label propagation to a fixpoint; the
# oracle reaches the same fixpoint via a recursive CTE — both are
# well-defined because cluster_id = min doc_id in the component is
# independent of evaluation order.
# --------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(doc_id = cluster_id AS INT) AS is_canonical
FROM cc
"""


@register("near_dup_clusters", oracle=_CLUSTER_ORACLE)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters = connected components over the Jaccard near-dup
    pair graph (operators/dedup.py:connected_components): cluster_id is
    the component's min doc_id (canonical keep), cluster_size the
    dedup fan-in. Iterative label propagation on the O(pairs) graph —
    the iteration count is bounded by component diameter, not corpus
    size."""
    from pyspark.sql import Window

    raw = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_near_dup_pairs(
        spread(raw), "text", "doc_id", n=JACCARD_N,
        threshold=JACCARD_THRESHOLD, max_shingle_freq=MAX_SHINGLE_FREQ,
        bound_src=raw,
    )
    cc = dd.connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# BPE-ish regex tokenization + polynomial rolling-hash fingerprint
# --------------------------------------------------------------------------

_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

_BPE_ORACLE = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
  CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT)
      AS n_unique_bpe
FROM documents
"""


@register("bpe_token_count", oracle=_BPE_ORACLE)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization: letter-runs / digit-runs / punctuation-runs
    via one regex (the pre-merge stage of byte-pair encoders) — counts
    approximate LLM token budgets far better than whitespace splits."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe"),
    )


_ROLLHASH_ORACLE = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
FROM documents
"""


@register("rolling_hash", oracle=_ROLLHASH_ORACLE)
def rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (base 31, mod 1e9+7) over the
    character stream — pure integer fold, identical in both engines, and
    the building block for windowed/rabin-karp chunking at scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    chars = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1_000_000_007,
    )
    return docs.select("doc_id", h.alias("roll_hash"))


# --------------------------------------------------------------------------
# Distinct aggregation: vocabulary size per language (absent from the
# reference — SURVEY §2.4 notes no distinct-agg — and a corpus-stats
# staple for a training-data pipeline)
# --------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT lang,
  count(*) AS n_tokens,
  count(DISTINCT tok) AS n_distinct_tokens
FROM toks
WHERE tok != ''
GROUP BY lang
"""


@register("vocab_stats", oracle=_VOCAB_ORACLE)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language vocabulary size. Spark plans count(DISTINCT)
    as a two-phase partial-distinct on (lang, tok) — the distinct
    dedup shuffles O(distinct) rows, not O(tokens). The approximate
    path (approx_count_distinct, HLL sketch, fixed-size partial state)
    is the 100 TB default; pinned within 5% of this exact query in
    tests/test_factors.py."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling (round 2): the reproducible-subset
# primitive every training-data pipeline needs — no RNG state, no
# seed-per-partition hazard; membership is a pure function of content,
# so reruns, backfills, and engines agree byte-for-byte.
# --------------------------------------------------------------------------

_SAMPLE_ORACLE = """
SELECT doc_id, lang,
       substr(md5(text), 1, 1) AS bucket
FROM documents
WHERE substr(md5(text), 1, 1) = '0'
"""


@register("deterministic_sample", oracle=_SAMPLE_ORACLE)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1/16 content-hash sample: keep docs whose md5 hex digit 0 is
    '0'. Scales trivially (per-row expression, no shuffle); the rate
    knob is the hex-prefix range. md5 (not xxhash64) so the oracle is
    engine-portable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    bucket = F.substring(F.md5(F.col("text")), 1, 1)
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") == "0"
    )


# --------------------------------------------------------------------------
# Sequence packing (round 2): assign docs to fixed-token-budget packs
# (training-batch construction). Contiguous-fill semantics: a doc's
# pack is the budget bucket its running token total STARTS in —
# deterministic, one window per partition key, identical in SQL.
# --------------------------------------------------------------------------

PACK_BUDGET = 2048

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT lang,
       CAST(floor((cum - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM c GROUP BY 1, 2
"""


@register("sequence_packing", oracle=_PACK_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing of documents into {PACK_BUDGET}-token
    packs per language: window cumsum -> integer-divide -> per-pack
    rollup. The window partitions by the pack key (lang here; a real
    pipeline adds a shard/date key so partitions stay bounded at
    100 TB)."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    n_tokens = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = docs.select("doc_id", "lang", n_tokens.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    return (
        c.withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET).cast("long"),
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark decontamination (round 2): max n-gram CONTAINMENT of each
# training doc against a benchmark set — containment (|A∩B| / |bench
# shingles|), not Jaccard, because a benchmark snippet embedded in a
# long doc must still score ~1.0. Same inverted-index join shape as the
# Jaccard pass: candidates only where >=1 shingle is shared.
# --------------------------------------------------------------------------

BENCH_MOD = 100  # stand-in benchmark set: every 100th doc
CONTAMINATION_MIN = 0.5

_CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {JACCARD_N - 1}),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
bench AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
bsizes AS (SELECT doc_id, count(*) AS bsz FROM bench GROUP BY 1),
inter AS (
  SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_inter
  FROM train t JOIN bench b ON t.shingle = b.shingle
  GROUP BY 1, 2),
scored AS (
  SELECT train_id, bench_id,
         round(CAST(n_inter AS DOUBLE) / bs.bsz, 6) AS containment
  FROM inter JOIN bsizes bs ON bs.doc_id = bench_id)
SELECT train_id,
       max(containment) AS max_containment,
       CAST(count(CASE WHEN containment >= {CONTAMINATION_MIN} THEN 1 END)
            AS BIGINT) AS n_contaminating
FROM scored GROUP BY train_id
"""


def _contamination_scores(docs: DataFrame) -> DataFrame:
    """(train_id, bench_id, containment) candidate pairs via the
    shingle inverted-index equi-join — shared by the per-doc scan and
    the per-source rollup. The benchmark side is small by nature, so
    its shingle table broadcasts at scale."""
    sh = dd.word_shingles(docs, "text", "doc_id", n=JACCARD_N)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = sh.filter(is_bench)
    train = sh.filter(~is_bench)
    bsizes = bench.groupBy("doc_id").agg(F.count(F.lit(1)).alias("bsz"))
    inter = (
        train.join(
            F.broadcast(bench.withColumnRenamed("doc_id", "bench_id")), "shingle"
        )
        .groupBy(F.col("doc_id").alias("train_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter.join(
        F.broadcast(bsizes.withColumnRenamed("doc_id", "bench_id")), "bench_id"
    ).withColumn("containment", F.round(F.col("n_inter") / F.col("bsz"), 6))


@register("benchmark_contamination", oracle=_CONTAM_ORACLE)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: per training doc, the max shingle
    containment vs any benchmark doc and the count of benchmark docs
    over the threshold. Inverted-index equi-join on shingles (never a
    cross product)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = _contamination_scores(docs)
    return scored.groupBy("train_id").agg(
        F.max("containment").alias("max_containment"),
        F.count(
            F.when(F.col("containment") >= CONTAMINATION_MIN, 1)
        ).alias("n_contaminating"),
    )


_CONTAM_CTES = _CONTAM_ORACLE.split("SELECT train_id,\n")[0]

_SOURCE_CONTAM_ORACLE = f"""{_CONTAM_CTES}
SELECT source, count(*) AS n_docs,
       CAST(count(CASE WHEN mc >= {CONTAMINATION_MIN} THEN 1 END)
            AS BIGINT) AS n_contaminated,
       CAST(count(CASE WHEN mc >= {CONTAMINATION_MIN} THEN 1 END)
            AS DOUBLE) / count(*) AS contamination_rate
FROM documents d LEFT JOIN (
  SELECT train_id, max(containment) AS mc FROM scored GROUP BY 1
) s ON d.doc_id = s.train_id
WHERE d.doc_id % {BENCH_MOD} <> 0
GROUP BY source
"""


@register("per_source_contamination", oracle=_SOURCE_CONTAM_ORACLE)
def per_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination rollup per corpus source: of each source's
    training docs, how many have max benchmark containment over the
    threshold — the decide-which-crawl-to-drop view. A LEFT join from
    the doc dim keeps zero-candidate docs in the denominator; beyond
    the shared inverted-index pass the rollup is one O(docs) shuffle
    to O(sources) rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    doc_max = (
        _contamination_scores(docs)
        .groupBy("train_id")
        .agg(F.max("containment").alias("mc"))
    )
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", "source"
    )
    hit = F.when(F.col("mc") >= CONTAMINATION_MIN, 1)
    return (
        train.join(doc_max, train.doc_id == doc_max.train_id, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(hit).alias("n_contaminated"),
            (F.count(hit).cast("double") / F.count(F.lit(1))).alias(
                "contamination_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Inverted-index / IR scoring family (round 2)
# --------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS BIGINT) AS rk
  FROM scored)
WHERE rk <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·ln(N/df). One doc-term
    shuffle; the df table and corpus-size N are broadcast back; the
    rank runs on the rounded score with term tiebreak, so selection is
    deterministic in both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return tx.tfidf_top_terms(docs, "text", "doc_id", k=3)


_REPETITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n_tokens
  FROM documents),
top_tok AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY 1, 2)
  GROUP BY 1),
top_bg AS (
  SELECT doc_id, max(c) AS top_bg_c FROM (
    SELECT doc_id, bg, count(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
          FROM base) GROUP BY 1, 2)
  GROUP BY 1)
SELECT b.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(top_c AS DOUBLE) / n_tokens, 6) AS top_token_frac,
       round(CASE WHEN n_tokens > 1
                  THEN CAST(top_bg_c AS DOUBLE) / (n_tokens - 1)
                  ELSE 0.0 END, 6) AS top_bigram_frac,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens, 6)
         AS unique_frac
FROM base b JOIN top_tok USING (doc_id) JOIN top_bg USING (doc_id)
"""


@register("repetition_stats", oracle=_REPETITION_ORACLE)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (top-token fraction,
    top-bigram fraction, unique-token fraction) — both explodes re-key
    on doc_id, so no term-level global state exists anywhere."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return tx.repetition_stats(docs, "text", "doc_id")


_POSTING_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT term, doc_id
  FROM (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents))
SELECT term, doc_id // 256 AS bucket,
       count(*) AS n_postings,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS postings_md5
FROM dt GROUP BY 1, 2
"""


@register("posting_list_digest", oracle=_POSTING_ORACLE)
def posting_list_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded inverted-index build: (term, doc_id-bucket) shards keep
    every reducer group ≤256 postings regardless of term frequency —
    the property that lets the build survive stop-words at 100 TB. The
    md5 digest of the sorted posting list is the order-insensitive
    equality check."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return tx.posting_list_digest(docs, "text", "doc_id", bucket_width=256)


_BM25_TERMS = ["spark", "join", "window", "vector"]

# decimal literals in e-notation: DuckDB parses 0.5/1.2 as DECIMAL,
# Spark as DOUBLE — e-notation is DOUBLE in both engines
_BM25_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  WHERE term IN ('spark', 'join', 'window', 'vector')
  GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
corpus AS (
  SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM base)
SELECT doc_id, round(sum(
         ln(1e0 + (n_docs - df + 5e-1) / (df + 5e-1))
         * (tf * 22e-1)
         / (tf + 12e-1 * (1e0 - 75e-2 + 75e-2 * dl / avgdl))
       ), 6) AS bm25
FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for a fixed term query: doc length rides through
    the explode (no doc-length join); df and (N, avgdl) broadcast; the
    final top-k compiles to TakeOrderedAndProject."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return tx.bm25_topk(docs, _BM25_TERMS, "text", "doc_id", k=20)


# --------------------------------------------------------------------------
# Context-window chunking + stratified hash split (round 2)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 50
CHUNK_STEP = 40  # 10-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n FROM documents)
SELECT doc_id,
       (start - 1) // {CHUNK_STEP} AS chunk_idx,
       least({CHUNK_TOKENS}, n - start + 1) AS chunk_len,
       md5(array_to_string(toks[start:start + {CHUNK_TOKENS} - 1], ' '))
         AS chunk_md5
FROM (SELECT doc_id, toks, n,
             unnest(range(1, n + 1, {CHUNK_STEP})) AS start
      FROM base)
"""


@register("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: fixed token budget with overlap
    (50-token chunks, stride 40). Pure per-row array expressions +
    one explode — no shuffle at all; at 100 TB this is the map-side
    stage feeding sequence packing. md5 digests keep the verify row
    narrow."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("toks"), F.size(t).alias("n"))
    return (
        base.select(
            "doc_id",
            "toks",
            "n",
            # guard n = 0: sequence(1, 0, step) throws 'Illegal sequence
            # boundaries' — a token-less doc yields no chunks
            F.explode(
                F.when(
                    F.col("n") >= 1,
                    F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STEP)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"(start - 1) div {CHUNK_STEP}").alias("chunk_idx"),
            F.least(
                F.lit(CHUNK_TOKENS), F.col("n") - F.col("start") + 1
            ).cast("long").alias("chunk_len"),
            F.md5(
                F.array_join(F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS), " ")
            ).alias("chunk_md5"),
        )
    )


_STRAT_ORACLE = """
WITH b AS (
  SELECT lang, n_chars, substring(md5(text), 1, 1) AS h FROM documents)
SELECT lang,
       CASE WHEN h BETWEEN '0' AND 'b' THEN 'train'
            WHEN h IN ('c', 'd') THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""


@register("stratified_split", oracle=_STRAT_ORACLE)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split (12/2/2 sixteenths
    by content-hash hex prefix), audited per language stratum. The
    split is a per-row expression — reproducible across runs, engines,
    and cluster sizes, and immune to partition order."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    h = F.substring(F.md5(F.col("text")), 1, 1)
    split = (
        F.when(h.between("0", "b"), "train")
        .when(h.isin("c", "d"), "val")
        .otherwise("test")
    )
    return docs.select("lang", split.alias("split"), "n_chars").groupBy(
        "lang", "split"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Pattern scrubbing, mixture weights, chunk-level dedup (round 2)
# --------------------------------------------------------------------------

_SCRUB_PAT = r"\b(customer|order)\b"  # stand-in PII/blocklist pattern

_SCRUB_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       count(*) FILTER (WHERE regexp_matches(text, '{_SCRUB_PAT}'))
         AS docs_affected,
       CAST(coalesce(sum(len(regexp_extract_all(text, '{_SCRUB_PAT}'))), 0)
            AS BIGINT) AS total_matches,
       CAST(coalesce(sum(length(text)
            - length(regexp_replace(text, '{_SCRUB_PAT}', '', 'g'))), 0)
            AS BIGINT) AS chars_removed
FROM documents GROUP BY lang
"""


@register("pattern_scrub_stats", oracle=_SCRUB_ORACLE)
def pattern_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction audit for a scrub regex (PII/blocklist stand-in —
    the synthetic corpus has no emails/digits, so a dictionary pattern
    demonstrates the machinery): per language, documents affected,
    match count, and characters that deletion-redaction would remove.
    Pure per-row JVM regex — the scrub itself is the same expression
    with regexp_replace kept instead of length-diffed, so the audit
    costs exactly one dry run of the real pass."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pat = _SCRUB_PAT
    hit = F.col("text").rlike(pat)
    n_matches = F.regexp_count(F.col("text"), F.lit(pat))
    removed = F.length("text") - F.length(F.regexp_replace("text", pat, ""))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(hit).alias("docs_affected"),
        F.sum(n_matches).cast("long").alias("total_matches"),
        F.sum(removed).cast("long").alias("chars_removed"),
    )


_MIX_BUDGET = 1_000_000  # sampled-token budget to allocate

_MIX_ORACLE = f"""
WITH per_lang AS (
  SELECT lang,
         count(*) AS n_docs,
         sum(len({_TOKENS})) AS n_tokens
  FROM documents GROUP BY lang),
w AS (
  SELECT *, CAST(round(sqrt(n_tokens) * 1e6) AS BIGINT) AS wq
  FROM per_lang)
SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(wq AS DOUBLE) / sum(wq) OVER (), 6) AS mixture_share,
       round(CAST(wq AS DOUBLE) / sum(wq) OVER () * {_MIX_BUDGET}
             / n_tokens, 6) AS epochs
FROM w
"""


@register("mixture_weights", oracle=_MIX_ORACLE)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (T=2 ⇒ sqrt scaling):
    per-language sampling share and implied epochs for a fixed token
    budget — the standard rebalancing step for multilingual training
    sets. The sqrt weight is quantized to an integer so the
    share-of-total is exact under any summation order; the total rides
    scalar-subquery injection, not a global window."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per_lang = docs.select("lang", tx.tokens(F.col("text")).alias("t")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).cast("long").alias("n_tokens"),
    )
    w = per_lang.withColumn(
        "wq", round_long(F.sqrt(F.col("n_tokens")) * 1e6)
    )
    total = w.agg(F.sum("wq").alias("__tot"))
    share = F.col("wq").cast("double") / F.col("__tot")
    return w.transform(with_scalars, total).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("mixture_share"),
        F.round(share * _MIX_BUDGET / F.col("n_tokens"), 6).alias("epochs"),
    )


DUP_CHUNK = 16  # non-overlapping 16-token chunks

_DUP_CHUNK_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS t, len({_TOKENS}) AS n FROM documents),
ch AS (
  SELECT doc_id, md5(array_to_string(t[s:s + {DUP_CHUNK} - 1], ' ')) AS h
  FROM (SELECT doc_id, t, n, unnest(range(1, n + 1, {DUP_CHUNK})) AS s
        FROM base)),
g AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT doc_id,
       count(*) AS n_chunks,
       count(*) FILTER (WHERE nd > 1) AS n_shared_chunks,
       round(CAST(count(*) FILTER (WHERE nd > 1) AS DOUBLE) / count(*), 6)
         AS shared_fraction
FROM ch JOIN g USING (h)
GROUP BY doc_id
"""


@register("duplicate_chunk_fraction", oracle=_DUP_CHUNK_ORACLE)
def duplicate_chunk_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup signal: fraction of a doc's 16-token chunks
    that also occur in at least one OTHER document — catches partial
    copies that whole-doc fingerprints miss and near-dup shingles
    over-count. One shuffle on the 16-byte chunk hash; the per-hash
    distinct-doc count joins back on the same key, so at 100 TB both
    stages share a partitioning and the rows stay (hash, id)-narrow."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    ch = base.select(
        "doc_id",
        # same empty-doc guard as chunk_documents (sequence throws)
        F.explode(
            F.when(
                F.col("n") >= 1,
                F.sequence(F.lit(1), F.col("n"), F.lit(DUP_CHUNK)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("s"),
        "t",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.col("t"), F.col("s"), DUP_CHUNK), " ")).alias(
            "h"
        ),
    )
    g = ch.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    shared = F.count_if(F.col("nd") > 1)
    return (
        ch.join(g, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            shared.alias("n_shared_chunks"),
            F.round(
                shared.cast("double") / F.count(F.lit(1)), 6
            ).alias("shared_fraction"),
        )
    )


# --------------------------------------------------------------------------
# Curation end-to-end: keep-list and quality funnel (round 2)
# --------------------------------------------------------------------------

_KEEP_ORACLE = f"""
WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
ex AS (
  SELECT doc_id,
         CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT)
           AS exact_canonical
  FROM documents)
SELECT ex.doc_id, ex.exact_canonical,
       CAST(cc.doc_id IS NOT NULL AS INT) AS in_near_cluster,
       CAST(ex.exact_canonical = 1
            AND (cc.doc_id IS NULL OR cc.doc_id = cc.cluster_id) AS INT)
         AS keep
FROM ex LEFT JOIN cc USING (doc_id)
"""


@register("dedup_keep_list", oracle=_KEEP_ORACLE)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision per document: exact-dup canonical
    (min doc_id per content hash) AND near-dup canonical (min doc_id
    of its Jaccard cluster, via connected components) — the keep-list
    a curation pipeline materializes before training. Composes the
    16-byte-hash exact pass with the O(pairs) cluster pass; nothing
    here touches document bodies after the first fingerprint scan."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    exact_canon = (
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).cast("int")
    ex = docs.select("doc_id", exact_canon.alias("exact_canonical"))
    pairs = dd.jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    )
    cc = dd.connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    j = ex.join(cc, "doc_id", "left")
    keep = (
        (F.col("exact_canonical") == 1)
        & (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
    ).cast("int")
    return j.select(
        "doc_id",
        "exact_canonical",
        F.col("cluster_id").isNotNull().cast("int").alias("in_near_cluster"),
        keep.alias("keep"),
    )


_FUNNEL_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         len({_TOKENS}) AS nt,
         len(list_distinct({_TOKENS})) AS nu,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents),
agg AS (
  SELECT count(*) AS n0,
         count(*) FILTER (WHERE nt >= 30) AS n1,
         count(*) FILTER (WHERE nt >= 30 AND nu * 100 >= nt * 35) AS n2,
         count(*) FILTER (WHERE nt >= 30 AND nu * 100 >= nt * 35
                            AND doc_id = canon) AS n3
  FROM b)
SELECT stage, gate, n_docs,
       round(CAST(n_docs AS DOUBLE) / n0, 6) AS yield_frac
FROM (
  SELECT 0 AS stage, 'all' AS gate, n0 AS n_docs, n0 FROM agg
  UNION ALL SELECT 1, 'min_tokens_30', n1, n0 FROM agg
  UNION ALL SELECT 2, 'unique_frac_035', n2, n0 FROM agg
  UNION ALL SELECT 3, 'exact_canonical', n3, n0 FROM agg)
"""


@register("quality_funnel", oracle=_FUNNEL_ORACLE)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quality-gate yield report: how many documents survive
    each successive filter (length, lexical diversity, exact-dup
    canonical) — the per-run audit table every filtering pipeline
    emits. The diversity gate compares via integer cross-
    multiplication (nu*100 >= nt*35), sidestepping float thresholds.
    One scan, one tiny window for the dup gate, one 1-row aggregate."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    b = docs.select(
        "doc_id",
        F.size(t).alias("nt"),
        F.size(F.array_distinct(t)).alias("nu"),
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("canon"),
    )
    g1 = F.col("nt") >= 30
    g2 = F.col("nu") * 100 >= F.col("nt") * 35
    g3 = F.col("doc_id") == F.col("canon")
    agg = b.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if(g1).alias("n1"),
        F.count_if(g1 & g2).alias("n2"),
        F.count_if(g1 & g2 & g3).alias("n3"),
    )
    stage = lambda i, name, col: F.struct(  # noqa: E731
        F.lit(i).alias("stage"), F.lit(name).alias("gate"), F.col(col).alias("n_docs")
    )
    return agg.select(
        F.explode(
            F.array(
                stage(0, "all", "n0"),
                stage(1, "min_tokens_30", "n1"),
                stage(2, "unique_frac_035", "n2"),
                stage(3, "exact_canonical", "n3"),
            )
        ).alias("s"),
        "n0",
    ).select(
        F.col("s.stage").alias("stage"),
        F.col("s.gate").alias("gate"),
        F.col("s.n_docs").alias("n_docs"),
        F.round(F.col("s.n_docs").cast("double") / F.col("n0"), 6).alias(
            "yield_frac"
        ),
    )


# --------------------------------------------------------------------------
# Mixture sampling (round 3): weights -> exact quotas -> deterministic
# hash-rank selection (the executable form of mixture_weights)
# --------------------------------------------------------------------------

_MIXS_K = 200  # total docs to sample across sources

_MIXS_ORACLE = f"""
WITH w AS (
  SELECT source,
         CAST(round(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1e6) AS BIGINT) AS wq
  FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(wq) AS BIGINT) AS tot FROM w),
q AS (SELECT source, CAST((wq * {_MIXS_K}) // tot AS BIGINT) AS quota
      FROM w, t),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(text), 1, 15) AS BIGINT), doc_id)
         AS BIGINT) AS rn
  FROM documents)
SELECT r.doc_id, r.source, r.rn, q.quota
FROM r JOIN q ON r.source = q.source
WHERE r.rn <= q.quota
"""


@register("mixture_sample", oracle=_MIXS_ORACLE)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable mixture sampling: temperature weights (sqrt of
    per-source chars) become exact integer quotas out of a fixed
    budget, and each source contributes its quota of docs chosen by
    smallest content hash — the deterministic version of weighted
    corpus subsampling (reruns/backfills pick identical docs; no RNG).

    Scale shape: one per-source aggregate (bounded keys), quota
    arithmetic on a broadcast O(sources) frame, then ONE
    source-partitioned window over the corpus — per-source rank, never
    a global sort. Quota math is BIGINT floor division, so the split
    is exact under any evaluation order."""
    from dissertation_iceberg_spark.functions.hashing import hash60

    docs = spread(load_table(spark, sf_dir, "documents"))
    w = docs.groupBy("source").agg(
        F.round(F.sqrt(F.sum("n_chars").cast("double")) * 1e6)
        .cast("long")
        .alias("wq")
    )
    tot = w.agg(F.sum("wq").cast("long").alias("tot"))
    q = w.transform(with_scalars, tot).select(
        "source", F.expr(f"CAST((wq * {_MIXS_K}) DIV tot AS LONG)").alias("quota")
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("source").orderBy(hash60(F.col("text")), F.col("doc_id"))
    )
    r = docs.select("doc_id", "source", rn.cast("long").alias("rn"))
    return r.join(F.broadcast(q), "source").where(
        F.col("rn") <= F.col("quota")
    ).select("doc_id", "source", "rn", "quota")


# --------------------------------------------------------------------------
# Naive Bayes language classifier (train + score in one relational plan)
# --------------------------------------------------------------------------

_NB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOKENS}) AS term FROM documents),
counts AS (
  SELECT lang, term, count(*) AS c FROM tok GROUP BY 1, 2),
langs AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM langs),
ltot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM counts GROUP BY 1),
vocab AS (SELECT count(DISTINCT term) AS v FROM tok),
grid AS (
  SELECT t.term, l.lang,
         CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                       / (lt.n_l + vocab.v)) * 1e6) AS BIGINT) AS lp_micro
  FROM (SELECT DISTINCT term FROM tok) t
  CROSS JOIN langs l
  JOIN ltot lt ON l.lang = lt.lang
  CROSS JOIN vocab
  LEFT JOIN counts c ON c.term = t.term AND c.lang = l.lang),
priors AS (
  SELECT l.lang,
         CAST(round(ln(CAST(l.n_docs AS DOUBLE) / t.nd) * 1e6) AS BIGINT)
           AS prior_micro
  FROM langs l CROSS JOIN tot t),
scores AS (
  SELECT tk.doc_id, g.lang AS cand,
         CAST(sum(g.lp_micro) AS BIGINT) + any_value(p.prior_micro) AS score
  FROM tok tk
  JOIN grid g ON tk.term = g.term
  JOIN priors p ON g.lang = p.lang
  GROUP BY 1, 2),
ranked AS (
  SELECT doc_id, cand, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand DESC) AS rn
  FROM scores)
SELECT d.doc_id, d.lang, r.cand AS pred_lang,
       CAST(r.cand = d.lang AS BIGINT) AS is_correct,
       r.score AS score_micro
FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
WHERE r.rn = 1
"""


@register("nb_lang_classify", oracle=_NB_ORACLE)
def nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND scored
    in one relational plan: per-(lang, term) add-one-smoothed token
    log-likelihoods + doc-count priors, each document argmaxed over
    candidate languages. The from-scratch relational twin of
    ml.classification.NaiveBayes — every model parameter is a table,
    so training is aggregation and inference is a join, with no
    fit/transform boundary to ship a model through.

    Parity: per-(term, lang) log-probs and priors are micro-scaled to
    BIGINT at the point of the libm call (the registry's unigram rule),
    so per-document evidence totals are exact integer sums; the argmax
    breaks score ties on the language string — both engines rank
    identically. Docs with zero tokens drop out in both engines.

    Scale shape: the model is O(vocab x langs) — built map-side
    combinable, and the smoothing grid joins the distinct-term frame
    against a BROADCAST langs/totals frame; scoring is one token-keyed
    equi-join (token stream vs model — hot stopword keys are AQE
    skew-join territory, same profile as unigram_logprob) and one
    (doc, lang)-keyed exact integer sum; the argmax window partitions
    by doc_id over |langs| rows each. No driver loop, no UDF, no
    iteration."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", "lang", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    counts = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    langs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    nd = langs.agg(F.sum("n_docs").cast("long").alias("nd"))
    ltot = counts.groupBy("lang").agg(F.sum("c").cast("long").alias("n_l"))
    vocab = tok.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    lang_side = (
        langs.join(ltot, "lang")
        .transform(with_scalars, vocab)
        .select("lang", "n_l", "v")
    )
    grid = (
        tok.select("term")
        .distinct()
        .transform(explode_grid, lang_side)
        .join(counts, ["term", "lang"], "left")
        .select(
            "term",
            "lang",
            round_long(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_l") + F.col("v"))
                )
                * 1e6
            )
            .alias("lp_micro"),
        )
    )
    priors = langs.transform(with_scalars, nd).select(
        "lang",
        round_long(F.log(F.col("n_docs").cast("double") / F.col("nd")) * 1e6)
        .alias("prior_micro"),
    )
    scores = (
        tok.select("doc_id", "term")
        .join(grid, "term")
        .join(F.broadcast(priors), "lang")
        .groupBy("doc_id", F.col("lang").alias("cand"))
        .agg(
            (
                F.sum("lp_micro").cast("long") + F.any_value("prior_micro")
            ).alias("score")
        )
    )
    from pyspark.sql import Window as W

    rw = W.partitionBy("doc_id").orderBy(F.desc("score"), F.desc("cand"))
    best = (
        scores.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"), "score")
    )
    return best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "pred_lang",
        (F.col("pred_lang") == F.col("lang")).cast("long").alias("is_correct"),
        F.col("score").alias("score_micro"),
    )


# --------------------------------------------------------------------------
# End-to-end corpus-prep pipeline: dedup -> quality gates -> mixture
# quotas -> deterministic selection, audited per source in ONE query
# --------------------------------------------------------------------------

_PIPE_K = 150  # total docs selected across sources

_PIPE_ORACLE = f"""
WITH b AS MATERIALIZED (
  SELECT doc_id, source, n_chars, text,
         len(list_filter(str_split(text, ' '), x -> x <> '')) AS nt,
         len(list_distinct(list_filter(str_split(text, ' '), x -> x <> '')))
           AS nu,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents),
elig AS MATERIALIZED (
  SELECT doc_id, source, n_chars, text, nt
  FROM b
  WHERE nt >= 30 AND nu * 100 >= nt * 35 AND doc_id = canon),
w AS (
  SELECT source,
         CAST(round(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1e6) AS BIGINT) AS wq
  FROM elig GROUP BY 1),
t AS (SELECT CAST(sum(wq) AS BIGINT) AS tot FROM w),
q AS (SELECT source, CAST((wq * {_PIPE_K}) // tot AS BIGINT) AS quota
      FROM w, t),
r AS (
  SELECT doc_id, source, nt,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(text), 1, 15) AS BIGINT), doc_id)
         AS BIGINT) AS rn
  FROM elig),
sel AS (
  SELECT r.* FROM r JOIN q ON r.source = q.source WHERE r.rn <= q.quota),
ec AS (SELECT source, count(*) AS n_eligible FROM elig GROUP BY 1)
SELECT ec.source, CAST(ec.n_eligible AS BIGINT) AS n_eligible,
       q.quota,
       CAST(count(sel.doc_id) AS BIGINT) AS n_selected,
       CAST(coalesce(sum(sel.nt), 0) AS BIGINT) AS selected_tokens
FROM ec
JOIN q ON ec.source = q.source
LEFT JOIN sel ON sel.source = ec.source
GROUP BY 1, 2, 3
"""


@register("corpus_prep_pipeline", oracle=_PIPE_ORACLE)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep flow COMPOSED in one declarative plan —
    exact-dedup canonicalization, quality gates (min tokens, lexical
    diversity), temperature mixture quotas over the SURVIVING corpus,
    deterministic hash-rank selection — emitting the per-source audit
    (eligible, quota, selected, selected token mass) a training-data
    build publishes per snapshot. The point over the piecewise
    queries (quality_funnel, mixture_weights, mixture_sample): gates
    feed weights feed quotas feed selection inside ONE Catalyst plan,
    so the optimizer sees the whole pipeline (single scan fans into
    the gate/weight branches; no intermediate tables are written).

    Determinism end to end: dedup canon = min doc_id per md5; gates
    compare via integer cross-multiplication; quotas are exact integer
    floor-division of 1e6-scaled sqrt weights; selection ranks by the
    portable 60-bit content hash with doc_id tiebreak. The only
    libm call (sqrt) is micro-rounded once per SOURCE.

    Scale shape: one scan computes tokens + the md5-window canon
    (shuffle on content hash — the dedup shuffle); eligibility is a
    filter; weights/quotas are O(sources) broadcast; selection is the
    per-source hash-rank top-quota (windowed rank per source, a
    bounded 1e6-row-per-source frame at any SF via quota << group
    size; heavy-group guards live in mixture_sample's docstring)."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    b = docs.select(
        "doc_id",
        "source",
        "n_chars",
        "text",
        F.size(t).alias("nt"),
        F.size(F.array_distinct(t)).alias("nu"),
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("canon"),
    )
    elig = b.filter(
        (F.col("nt") >= 30)
        & (F.col("nu") * 100 >= F.col("nt") * 35)
        & (F.col("doc_id") == F.col("canon"))
    ).select("doc_id", "source", "n_chars", "text", "nt")
    w = elig.groupBy("source").agg(
        F.round(F.sqrt(F.sum("n_chars").cast("double")) * 1e6)
        .cast("long")
        .alias("wq")
    )
    tot = w.agg(F.sum("wq").cast("long").alias("tot"))
    q = w.transform(with_scalars, tot).select(
        "source", F.expr(f"(wq * {_PIPE_K}) div tot").cast("long").alias("quota")
    )
    from dissertation_iceberg_spark.functions.hashing import hash60

    rw = Window.partitionBy("source").orderBy(hash60(F.col("text")), "doc_id")
    r = elig.select(
        "doc_id", "source", "nt", F.row_number().over(rw).cast("long").alias("rn")
    )
    sel = r.join(F.broadcast(q), "source").filter(F.col("rn") <= F.col("quota"))
    ec = elig.groupBy("source").agg(F.count(F.lit(1)).alias("n_eligible"))
    return (
        ec.join(F.broadcast(q), "source")
        .join(
            sel.groupBy("source").agg(
                F.count(F.lit(1)).alias("ns"),
                F.sum("nt").alias("st"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            F.col("n_eligible").cast("long").alias("n_eligible"),
            "quota",
            F.coalesce("ns", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("st", F.lit(0)).cast("long").alias("selected_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Split leakage audit: near-dup pairs that CROSS train/val/test
# --------------------------------------------------------------------------

_LEAK_ORACLE = f"""
WITH pairs AS ({_JACCARD_ORACLE}),
sp AS (
  SELECT doc_id,
         CASE WHEN substring(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
              WHEN substring(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
       CAST(count(*) FILTER (a.split <> b.split) AS BIGINT)
         AS n_leaking
FROM pairs p
JOIN sp a ON p.id_a = a.doc_id
JOIN sp b ON p.id_b = b.doc_id
GROUP BY 1, 2
"""


@register("split_leakage_audit", oracle=_LEAK_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit: near-duplicate pairs whose two
    docs landed in DIFFERENT splits — the eval-integrity check every
    LLM data build runs before trusting held-out numbers (a test doc
    whose near-twin sits in train is a leaked answer key). Composes
    the deterministic hash split (stratified_split) with the shingle
    inverted-index near-dup kernel (jaccard_near_dups) and rolls up
    pair counts per unordered split pair; off-diagonal rows with
    n_leaking > 0 are the defect list.

    Scale shape: the dominant cost IS the near-dup kernel (inverted
    index, stop-shingle capped, no cartesian — measured linear at
    100×, SCALE.md); split assignment adds one md5 per doc and two
    broadcast-size joins onto the O(pairs) frame. Rollup output is at
    most 6 rows. Determinism: split = content-hash prefix (identical
    in both engines); pair set = the oracle-matched jaccard kernel."""
    from dissertation_iceberg_spark.operators.dedup import (
        jaccard_near_dup_pairs,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    )
    h = F.substring(F.md5("text"), 1, 1)
    sp = docs.select(
        "doc_id",
        F.when(h.between("0", "b"), "train")
        .when(h.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("spl_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("spl_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("spl_a", "spl_b").alias("split_a"),
            F.greatest("spl_a", "spl_b").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"),
            F.count_if(F.col("spl_a") != F.col("spl_b"))
            .cast("long")
            .alias("n_leaking"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic k-fold assignment + per-fold stats (CV plumbing)
# --------------------------------------------------------------------------

_CV_FOLDS = 5

from dissertation_iceberg_spark.functions.hashing import hash60_sql as _h60sql

_CV_ORACLE = f"""
WITH f AS (
  SELECT doc_id, lang, n_chars,
         {_h60sql("text")} % {_CV_FOLDS} AS fold
  FROM documents)
SELECT fold, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM f GROUP BY 1, 2
"""


@register("cv_fold_stats", oracle=_CV_ORACLE)
def cv_fold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (fold =
    content-hash mod k) with the per-(fold, language) balance audit a
    CV harness publishes before training — skewed folds invalidate
    the variance estimate, so the audit IS the operator. Hash-based
    folds are the only scheme that survives re-partitioning,
    backfills, and engine swaps (row_number folds do not).

    Scale: one scan, one map-side-combinable (k × langs)-group
    aggregate. Assignment is pure codegen (md5-derived integer mod).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    from dissertation_iceberg_spark.functions.hashing import hash60

    f = docs.select(
        "lang",
        "n_chars",
        (hash60(F.col("text")) % _CV_FOLDS).alias("fold"),
    )
    return f.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Shared n-gram spans (exact-substring dedup signal, Lee et al. 2022)
# --------------------------------------------------------------------------

_SPAN_N = 8
_SPAN_TOPK = 20

_SPAN_ORACLE = f"""
WITH base AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
    concat_ws(' ', toks[j], toks[j+1], toks[j+2], toks[j+3],
                   toks[j+4], toks[j+5], toks[j+6], toks[j+7]) AS gram
  FROM base, LATERAL unnest(range(1, len(toks) - {_SPAN_N} + 2)) u(j)
  WHERE len(toks) >= {_SPAN_N})
SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
FROM grams GROUP BY 1
HAVING count(*) >= 2
ORDER BY n_docs DESC, gram LIMIT {_SPAN_TOPK}
"""


@register("shared_ngram_spans", oracle=_SPAN_ORACLE)
def shared_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal: the top {k} {n}-gram spans
    appearing in two or more distinct documents — the word-level
    analogue of Lee et al. (2022) suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better");
    spans surfacing here are boilerplate/template text a substring
    scrubber would cut.

    Scale shape: {n}-grams emit map-side from each document's token
    array (zero shuffle until the count), per-doc DISTINCT collapses
    repeated spans before the exchange, the (gram)-keyed count is
    map-side combinable, and the top-k is a TakeOrdered heap with a
    (count, gram) total-order tiebreak. At 100 TB the gram key is the
    classic skew candidate — boilerplate headers — which is exactly
    what AQE skew-split handles; a rolling-hash of the gram (the
    registry's `rolling_hash` entry) would shrink shuffle bytes 10×
    without changing this plan.""".format(k=_SPAN_TOPK, n=_SPAN_N)
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    grams = (
        base.filter(F.size("toks") >= _SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {_SPAN_N}),"
                    " i -> concat_ws(' ', slice(toks, i + 1, "
                    f"{_SPAN_N})))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(_SPAN_TOPK)
        .select("gram", F.col("n_docs").cast("long").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Survivorship merge (golden-record construction over duplicate groups)
# --------------------------------------------------------------------------

_SURV_ORACLE = """
SELECT md5(concat_ws(' ',
         list_filter(str_split(text, ' '), x -> x <> '')[1],
         list_filter(str_split(text, ' '), x -> x <> '')[2],
         list_filter(str_split(text, ' '), x -> x <> '')[3]))
       AS fingerprint,
  CAST(count(*) AS BIGINT) AS n_members,
  min(doc_id) AS golden_id,
  min_by(lang, doc_id) AS lang,
  max_by(source, n_chars * 100000000 - doc_id) AS richest_source,
  CAST(max(n_chars) AS BIGINT) AS max_chars,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1 HAVING count(*) >= 2
"""


@register("survivorship_merge", oracle=_SURV_ORACLE)
def survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (MDM survivorship) over
    prefix-blocked candidate groups (3-token prefix fingerprint — the
    standard cheap blocking key for near-dup record linkage; exact
    dedup is the degenerate full-text block): per fingerprint the
    canonical id (min), the earliest member's language, the source of
    the RICHEST member (max n_chars, ties to the lower doc_id), and
    size stats — the merge step that follows candidate grouping when
    duplicates must collapse to one record instead of just being
    counted.

    Scale shape: one fingerprint-keyed aggregation; every
    survivorship rule is a min/max/max_by with a pinned total-order
    tiebreak, so the golden record is shuffle-order invariant — the
    property that makes the merge idempotent under reprocessing."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    # F.get (NULL out-of-bounds), not getItem (ANSI error): docs with
    # fewer than 3 tokens block on their shorter prefix — concat_ws
    # skips NULLs identically in both engines, and DuckDB's list[i]
    # is NULL out of range (round-6 skew fuzz: an empty doc crashed
    # the Spark side here)
    prefix = F.concat_ws(
        " ", F.get(toks, 0), F.get(toks, 1), F.get(toks, 2)
    )
    return (
        docs.groupBy(F.md5(prefix).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("doc_id").alias("golden_id"),
            F.min_by("lang", F.col("doc_id")).alias("lang"),
            F.max_by(
                "source", F.col("n_chars") * 100000000 - F.col("doc_id")
            ).alias("richest_source"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )


# --------------------------------------------------------------------------
# Greedy mixture optimizer (quality-ranked token budget allocation)
# --------------------------------------------------------------------------

_MIXOPT_BUDGET_PCT = 50

_TOKS_SQL = "list_filter(str_split(text, ' '), x -> x <> '')"

_MIXOPT_ORACLE = f"""
WITH per AS (
  SELECT source,
    CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS toks,
    CAST(round(avg(CAST(n_chars AS DOUBLE) / len({_TOKS_SQL})) * 1e6)
         AS BIGINT) AS quality_micro
  FROM documents WHERE len({_TOKS_SQL}) > 0
  GROUP BY 1),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total_toks FROM per),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY quality_micro DESC, source) AS rnk,
    coalesce(sum(toks) OVER (ORDER BY quality_micro DESC, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM per),
b AS (SELECT CAST(total_toks * {_MIXOPT_BUDGET_PCT} // 100 AS BIGINT)
        AS budget FROM tot)
SELECT source, CAST(rnk AS BIGINT) AS rnk, quality_micro, toks,
  CAST(greatest(least(toks, budget - cum_before), 0) AS BIGINT) AS taken
FROM ranked CROSS JOIN b
"""


@register("mixture_optimizer", oracle=_MIXOPT_ORACLE)
def mixture_optimizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget allocator: sources ranked by a quality
    proxy (mean chars-per-token — longer words ≈ richer text in the
    fixtures), then filled in rank order until {p}% of corpus tokens
    are spent; the straddling source takes exactly its clamped
    remainder. The deterministic skeleton of quality-weighted data
    mixing (swap in any quality model; the allocation plan is this
    same clamped prefix-sum).

    Scale shape: one source-keyed rollup (map-side combinable), a
    1-row total broadcast, and ranking over the O(sources) frame —
    the clamped-contribution kernel shared with the trimmed-means and
    Lorenz entries. Token counts are exact BIGINTs; quality is
    micro-rounded once before ranking with a source tiebreak.""".format(
        p=_MIXOPT_BUDGET_PCT
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    per = (
        docs.filter(F.size(toks) > 0)
        .groupBy("source")
        .agg(
            F.sum(F.size(toks)).cast("long").alias("toks"),
            F.round(
                F.avg(F.col("n_chars").cast("double") / F.size(toks)) * 1e6
            )
            .cast("long")
            .alias("quality_micro"),
        )
    )
    tot = per.agg(F.sum("toks").cast("long").alias("total_toks"))
    w = Window.orderBy(F.col("quality_micro").desc(), F.col("source").asc())
    ranked = per.select(
        "*",
        F.row_number().over(w).alias("rnk"),
        F.coalesce(
            F.sum("toks").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("cum_before"),
    )
    b = tot.select(
        F.expr(f"total_toks * {_MIXOPT_BUDGET_PCT} DIV 100")
        .cast("long")
        .alias("budget")
    )
    return ranked.transform(with_scalars, b).select(
        "source",
        F.col("rnk").cast("long").alias("rnk"),
        "quality_micro",
        "toks",
        F.greatest(
            F.least(F.col("toks"), F.col("budget") - F.col("cum_before")),
            F.lit(0),
        )
        .cast("long")
        .alias("taken"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language (BPE-regex vs whitespace tokens)
# --------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
SELECT lang,
  CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS ws_tokens,
  CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT)
    AS bpe_tokens,
  round(CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS DOUBLE)
        / sum(len({_TOKS_SQL})), 6) AS fertility
FROM documents
WHERE len({_TOKS_SQL}) > 0
GROUP BY 1
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-style regex tokens per
    whitespace word — the compression-efficiency metric that decides
    whether a tokenizer underserves a language (high fertility =
    more tokens per word = costlier training and inference for that
    language's text).

    Scale shape: both token counts are per-row JVM expressions (split
    + regexp_extract_all), aggregated map-side-combinably by the tiny
    lang key. Counts exact; one division per language."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)"))
    return (
        docs.filter(F.size(toks) > 0)
        .groupBy("lang")
        .agg(
            F.sum(F.size(toks)).cast("long").alias("ws_tokens"),
            F.sum(bpe).cast("long").alias("bpe_tokens"),
            F.round(
                F.sum(bpe).cast("double") / F.sum(F.size(toks)), 6
            ).alias("fertility"),
        )
    )


# --------------------------------------------------------------------------
# Differentially-private count release (Laplace mechanism shape)
# --------------------------------------------------------------------------

_DP_EPS = "1e0"  # epsilon; b = sensitivity/eps = 1


def _dp_oracle() -> str:
    from dissertation_iceberg_spark.functions.hashing import hash60_sql

    h = hash60_sql("event_type || ':dp'")
    return f"""
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1),
n AS (
  SELECT *,
    2e0 * ({h} / 1152921504606846976e0) - 1e0 AS u2
  FROM c)
SELECT event_type, true_count,
  CAST(round(-(1e0 / {_DP_EPS})
       * CASE WHEN u2 >= 0 THEN 1e0 ELSE -1e0 END
       * ln(1e0 - abs(u2)) * 1e6) AS BIGINT) AS noise_micro,
  true_count + CAST(round(-(1e0 / {_DP_EPS})
       * CASE WHEN u2 >= 0 THEN 1e0 ELSE -1e0 END
       * ln(1e0 - abs(u2))) AS BIGINT) AS noisy_count
FROM n
"""


@register("dp_noisy_counts", oracle=_dp_oracle())
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release (ε = 1, sensitivity 1): per
    event type the true count plus Laplace(1/ε) noise via inverse-CDF
    sampling — the differential-privacy aggregation shape. The
    uniform driving the inverse CDF is the portable md5-derived hash
    of the group key, which makes this a DETERMINISTIC test harness
    of the mechanism's dataflow (production swaps in a secure RNG at
    exactly this expression; nothing else changes — true_count is
    emitted here only so the oracle can audit the noise).

    Scale shape: one map-side-combinable count plus per-group scalar
    expressions. The hash-uniform is an exact-integer/2^60 division
    (correctly rounded identically in both engines); the Laplace
    transform micro-rounds once."""
    from dissertation_iceberg_spark.functions.hashing import hash60

    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    u2 = (
        2.0
        * (
            hash60(F.concat(F.col("event_type"), F.lit(":dp")))
            / F.lit(1152921504606846976.0)
        )
        - 1.0
    )
    eps = F.expr(_DP_EPS)
    lap = (
        -(1.0 / eps)
        * F.when(u2 >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - F.abs(u2))
    )
    return c.select(
        "event_type",
        "true_count",
        round_long(lap * 1e6).alias("noise_micro"),
        (F.col("true_count") + round_long(lap)).alias(
            "noisy_count"
        ),
    )


# --------------------------------------------------------------------------
# Incremental dedup gate (today's batch vs the historical fingerprint set)
# --------------------------------------------------------------------------

_INC_DEDUP_ORACLE = """
WITH base AS (
  SELECT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0),
delta AS (
  SELECT doc_id, md5(text) AS fp, n_chars FROM documents
  WHERE doc_id % 5 = 0),
flagged AS (
  SELECT d.doc_id, d.n_chars,
    CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM delta d LEFT JOIN (SELECT DISTINCT fp FROM base) b ON d.fp = b.fp)
SELECT
  CAST(count(*) AS BIGINT) AS delta_docs,
  CAST(sum(is_dup) AS BIGINT) AS dup_docs,
  CAST(sum(CASE WHEN is_dup = 0 THEN n_chars ELSE 0 END) AS BIGINT)
    AS new_chars,
  round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_rate
FROM flagged
"""


@register("incremental_dedup_gate", oracle=_INC_DEDUP_ORACLE)
def incremental_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup gate: today's batch (a deterministic
    1/5 slice stands in for the delta) checked against the historical
    fingerprint set — the daily-ingestion shape where only the DELTA
    is fingerprint-probed, never the full corpus re-deduped. Reports
    batch size, duplicate hits, surviving characters, and the dup
    rate (the drift alarm for a scraper re-crawling old pages).

    Scale shape: the history side reduces to distinct fingerprints
    (16-byte keys) BEFORE the join; the probe is a fingerprint-keyed
    equi-join, delta-sized — at 100 TB the history fingerprints live
    as a bucketed table and the probe co-locates (or a Bloom
    pre-filter drops the obvious non-dups before the shuffle, the
    registry's bloom_gated_decontamination pattern)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    delta = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    flagged = delta.join(
        base.withColumn("hit", F.lit(1)), "fp", "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("hit"), F.lit(0)).alias("is_dup"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("delta_docs"),
        F.sum("is_dup").cast("long").alias("dup_docs"),
        F.sum(F.when(F.col("is_dup") == 0, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("new_chars"),
        F.round(F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_rate"
        ),
    )


# --------------------------------------------------------------------------
# Normalization-aware dedup (how much aggressive normalization unlocks)
# --------------------------------------------------------------------------

_NORM_DEDUP_ORACLE = """
WITH n AS (
  SELECT doc_id,
    md5(text) AS raw_fp,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '0', 'g'),
                            ' +', ' ', 'g'))) AS norm_fp
  FROM documents),
raw_g AS (SELECT raw_fp, count(*) AS c FROM n GROUP BY 1),
norm_g AS (SELECT norm_fp, count(*) AS c FROM n GROUP BY 1)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM n) AS n_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM raw_g) AS raw_groups,
  (SELECT CAST(count(*) AS BIGINT) FROM norm_g) AS norm_groups,
  CAST(coalesce((SELECT sum(c - 1) FROM raw_g WHERE c >= 2), 0) AS BIGINT)
    AS raw_redundant,
  CAST(coalesce((SELECT sum(c - 1) FROM norm_g WHERE c >= 2), 0) AS BIGINT)
    AS norm_redundant
"""


@register("normalized_dedup_gain", oracle=_NORM_DEDUP_ORACLE)
def normalized_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware dedup audit: duplicate groups under the raw
    fingerprint vs under an aggressive normalization (lowercase, digit
    masking, whitespace collapse) — the measurement that decides
    whether normalization belongs in the dedup key (norm_redundant −
    raw_redundant = extra documents a normalized pass would drop;
    near-miss duplicates differing only in case/numbers/spacing).

    Scale shape: both fingerprints compute map-side in one scan; two
    16-byte-keyed counts. The normalization chain is regexp_replace +
    lower + trim — identical semantics in both engines (global
    replacement, POSIX classes avoided)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0"),
            " +",
            " ",
        )
    )
    n = docs.select(
        "doc_id",
        F.md5("text").alias("raw_fp"),
        F.md5(norm).alias("norm_fp"),
    )
    raw_g = n.groupBy("raw_fp").agg(F.count(F.lit(1)).alias("c"))
    norm_g = n.groupBy("norm_fp").agg(F.count(F.lit(1)).alias("c"))
    stats = n.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    rg = raw_g.agg(
        F.count(F.lit(1)).cast("long").alias("raw_groups"),
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, F.col("c") - 1)), F.lit(0)
        )
        .cast("long")
        .alias("raw_redundant"),
    )
    ng = norm_g.agg(
        F.count(F.lit(1)).cast("long").alias("norm_groups"),
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, F.col("c") - 1)), F.lit(0)
        )
        .cast("long")
        .alias("norm_redundant"),
    )
    return (
        stats.transform(with_scalars, rg)
        .transform(with_scalars, ng)
        .select(
            "n_docs",
            "raw_groups",
            "norm_groups",
            "raw_redundant",
            "norm_redundant",
        )
    )


# --------------------------------------------------------------------------
# Distinctive terms per source: log-odds with informative Dirichlet prior
# --------------------------------------------------------------------------

_SALIENCY_TOPK = 5
_SALIENCY_MU = "1e2"  # prior strength (pseudo-token mass per source)

_SALIENCY_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
st AS (SELECT source, term, count(*) AS y FROM tok GROUP BY 1, 2),
stot AS (SELECT source, CAST(sum(y) AS BIGINT) AS n FROM st GROUP BY 1),
ct AS (SELECT term, CAST(sum(y) AS BIGINT) AS yw FROM st GROUP BY 1),
tot AS (SELECT CAST(sum(y) AS BIGINT) AS nn FROM st),
z AS (
  SELECT st.source, st.term,
    CAST(st.y AS BIGINT) AS y,
    (ln((st.y + {_SALIENCY_MU} * ct.yw / tot.nn)
        / (stot.n - st.y + {_SALIENCY_MU}
           - {_SALIENCY_MU} * ct.yw / tot.nn))
     - ln(((ct.yw - st.y) + {_SALIENCY_MU} * ct.yw / tot.nn)
          / ((tot.nn - stot.n) - (ct.yw - st.y) + {_SALIENCY_MU}
             - {_SALIENCY_MU} * ct.yw / tot.nn)))
    / sqrt(1e0 / (st.y + {_SALIENCY_MU} * ct.yw / tot.nn)
           + 1e0 / ((ct.yw - st.y) + {_SALIENCY_MU} * ct.yw / tot.nn))
      AS zval
  FROM st
  JOIN stot ON st.source = stot.source
  JOIN ct ON st.term = ct.term
  CROSS JOIN tot)
SELECT source, term, y,
  round(zval, 6) AS z_score,
  CAST(row_number() OVER (PARTITION BY source
       ORDER BY round(zval, 6) DESC, term) AS BIGINT) AS rnk
FROM z
QUALIFY rnk <= {_SALIENCY_TOPK}
"""


@register("source_term_saliency", oracle=_SALIENCY_ORACLE)
def source_term_saliency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} distinctive terms per source by log-odds z-score with
    an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — source-vs-rest odds shrunk toward corpus
    frequencies, the statistically-sound alternative to raw TF-IDF
    for "what vocabulary makes this slice different" (the lens a
    corpus curator points at a suspicious source).

    Scale shape: term counts collapse map-side; the source and corpus
    marginals re-aggregate the ALREADY-COLLAPSED (source, term) frame;
    the scoring join is term-keyed. Every z evaluates per-row from
    exact integers (no cross-row float reduction); ranking uses the
    ROUNDED score with a term tiebreak — the cosine_topk determinism
    recipe.""".format(k=_SALIENCY_TOPK)
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("y"))
    stot = st.groupBy("source").agg(F.sum("y").cast("long").alias("n"))
    ct = st.groupBy("term").agg(F.sum("y").cast("long").alias("yw"))
    tot = st.agg(F.sum("y").cast("long").alias("nn"))
    mu = F.expr(_SALIENCY_MU)
    j = (
        st.join(stot, "source")
        .join(ct, "term")
        .transform(with_scalars, tot)
    )
    a_w = mu * F.col("yw") / F.col("nn")
    y, n_s = F.col("y"), F.col("n")
    y_rest = F.col("yw") - y
    n_rest = F.col("nn") - n_s
    delta = F.log(
        (y + a_w) / (n_s - y + mu - a_w)
    ) - F.log((y_rest + a_w) / (n_rest - y_rest + mu - a_w))
    z = delta / F.sqrt(1.0 / (y + a_w) + 1.0 / (y_rest + a_w))
    scored = j.select(
        "source",
        "term",
        y.cast("long").alias("y"),
        F.round(z, 6).alias("z_score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("z_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _SALIENCY_TOPK)
    )


# --------------------------------------------------------------------------
# Edit-distance verification of near-dup candidates (round 3)
# --------------------------------------------------------------------------

EDIT_SIM_THRESHOLD = 0.6
# Verify-stage cost cap (round 7): levenshtein is O(len_a * len_b) PER
# PAIR — one near-dup pair of 10 MB documents is ~1e14 cell updates on
# a single executor thread. Pairs where either side exceeds this byte
# length skip the quadratic verify (both engines), keeping the stage's
# worst case bounded at ~4e9 cells per pair; web-scale dedup verifies
# at chunk granularity anyway (duplicate_chunk_fraction/containment).
EDIT_MAX_BYTES = 65536

_EDIT_R6 = "CAST(round(({x}) * 1e6) AS BIGINT) / 1e6"

_EDIT_VERIFY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {JACCARD_N - 1}),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
keepsh AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) <= {MAX_SHINGLE_FREQ}),
sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cand AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
        >= {JACCARD_THRESHOLD}
    AND sa.sz >= {JACCARD_THRESHOLD} * sb.sz
    AND sb.sz >= {JACCARD_THRESHOLD} * sa.sz)
SELECT id_a, id_b,
  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
  {_EDIT_R6.format(x="1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) / greatest(strlen(da.text), strlen(db.text))")}
    AS edit_sim,
  CAST(({_EDIT_R6.format(x="1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) / greatest(strlen(da.text), strlen(db.text))")})
       >= {EDIT_SIM_THRESHOLD} AS BIGINT) AS is_dup
FROM cand
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
WHERE strlen(da.text) <= {EDIT_MAX_BYTES}
  AND strlen(db.text) <= {EDIT_MAX_BYTES}
"""


@register("edit_distance_verify", oracle=_EDIT_VERIFY_ORACLE)
def edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup pipeline with an exact verify stage: the
    inverted-index Jaccard candidate generator (jaccard_near_dups'
    shape, same 0.2 recall-oriented threshold) followed by character
    Levenshtein similarity 1 − d/max(len) on the surviving pairs —
    the classic block-then-verify dedup architecture, where the cheap
    set-overlap stage bounds how many pairs ever pay the O(len²)
    edit-distance kernel.

    Scale shape: candidate generation is the measured-linear posting
    list expansion (operators/dedup.py:94 — no cartesian, stop-shingle
    cap for 100 TB); the verify stage is two O(candidates) equi-joins
    to fetch texts plus a JVM-side levenshtein per candidate —
    never all-pairs. Both engines compute the identical unit-cost
    edit distance; the similarity is rounded with the portable
    integer-round form because d/max(len) lands on exact decimal
    midpoints (e.g. len = 128) where round-to-scale diverges.

    Unit semantics (round-7 unicode fuzz): the registered distance is
    BYTE-level over UTF-8 — DuckDB's levenshtein counts bytes while
    Spark's counts codepoints, so the Spark side views each text
    through decode(encode(·,UTF-8),ISO-8859-1) (one char per byte)
    and both denominators are byte lengths (octet_length/strlen).
    Byte-level is encoding-explicit, identical on ASCII, and the
    cheaper kernel at 100 TB (no codepoint decode in the inner loop).

    Cost cap: pairs where either text exceeds EDIT_MAX_BYTES skip the
    O(len^2) verify on both engines — one 10 MB near-dup pair would
    otherwise pin an executor thread on ~1e14 DP cells; oversized
    near-dups are the chunk-granularity family's job
    (duplicate_chunk_fraction / containment_dups).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    cand = dd.jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).select("id_a", "id_b")
    texts = docs.select("doc_id", "text")
    j = (
        cand.join(
            texts.select(
                F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
            ),
            "id_b",
        )
    )
    j = j.filter(
        (F.octet_length("text_a") <= EDIT_MAX_BYTES)
        & (F.octet_length("text_b") <= EDIT_MAX_BYTES)
    )

    def _bytes_view(c):
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    lev = F.levenshtein(_bytes_view("text_a"), _bytes_view("text_b"))
    sim = r6(
        1.0
        - lev.cast("double")
        / F.greatest(F.octet_length("text_a"), F.octet_length("text_b"))
    )
    return j.select(
        "id_a",
        "id_b",
        lev.cast("long").alias("edit_dist"),
        sim.alias("edit_sim"),
        (sim >= EDIT_SIM_THRESHOLD).cast("long").alias("is_dup"),
    )


# --------------------------------------------------------------------------
# Prefix-filtering near-dup join (PPJoin-lite, round 3)
# --------------------------------------------------------------------------

PREFIX_JACCARD_THRESHOLD = 0.5

_PREFIX_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {JACCARD_N - 1}),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
      >= {PREFIX_JACCARD_THRESHOLD}
"""


@register("prefix_filter_near_dups", oracle=_PREFIX_JACCARD_ORACLE)
def prefix_filter_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold near-dup join via PPJoin-style prefix filtering
    (operators/dedup.py:prefix_filter_near_dup_pairs): index only each
    doc's rarest (1-t)-fraction prefix under a global df-ascending
    shingle order, verify candidates exactly with a map-side
    array_intersect. Same answer as the full inverted index at t=0.5
    (exactness contract in the operator docstring — the oracle is the
    plain all-pairs Jaccard with no prefix logic at all), but the
    index volume and posting-list lengths shrink with the threshold,
    which is what a 100 TB dedup run at t=0.8-0.9 needs. The prefix
    shingles are globally the rarest, so the stop-shingle cap of the
    full-index path becomes unnecessary by construction.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return dd.prefix_filter_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=PREFIX_JACCARD_THRESHOLD
    )


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of a lexical and a semantic retrieval arm
# --------------------------------------------------------------------------

RRF_C = 60
RRF_ARM_K = 50
RRF_TOP = 10

_RRF_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  WHERE term IN ('spark', 'join', 'window', 'vector')
  GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
corpus AS (
  SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM base),
bm AS (
  SELECT doc_id, CAST(sum(CAST(round(
           ln(1e0 + (n_docs - df + 5e-1) / (df + 5e-1))
           * (tf * 22e-1)
           / (tf + 12e-1 * (1e0 - 75e-2 + 75e-2 * dl / avgdl))
           * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
  FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
  GROUP BY doc_id),
bmr AS (
  SELECT doc_id AS item_id, 'bm25' AS arm,
         CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
              AS BIGINT) AS rnk
  FROM (SELECT * FROM bm ORDER BY score_micro DESC, doc_id
        LIMIT {RRF_ARM_K})),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id AS item_id,
    CAST(round(
      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       FROM (SELECT unnest(q.qvec) AS x, unnest(e.embedding) AS y) z)
      / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
               FROM (SELECT unnest(q.qvec) AS x) z))
         * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                 FROM (SELECT unnest(e.embedding) AS y) z)))
      * 1e6) AS BIGINT) AS score_micro
  FROM embeddings e, q WHERE e.vec_id <> 0),
cosr AS (
  SELECT item_id, 'cos' AS arm,
         CAST(row_number() OVER (ORDER BY score_micro DESC, item_id)
              AS BIGINT) AS rnk
  FROM (SELECT * FROM cos ORDER BY score_micro DESC, item_id
        LIMIT {RRF_ARM_K})),
arms AS (SELECT * FROM bmr UNION ALL SELECT * FROM cosr),
fused AS (
  SELECT item_id,
         CAST(count(*) AS BIGINT) AS n_arms,
         max(CASE WHEN arm = 'bm25' THEN rnk END) AS bm25_rank,
         max(CASE WHEN arm = 'cos' THEN rnk END) AS cos_rank,
         CAST(sum(CAST(round(1e9 / ({RRF_C} + rnk)) AS BIGINT)) AS BIGINT)
           AS rrf_nano
  FROM arms GROUP BY 1)
SELECT item_id, n_arms, bm25_rank, cos_rank, rrf_nano / 1e9 AS rrf
FROM fused ORDER BY rrf_nano DESC, item_id LIMIT {RRF_TOP}
"""


@register("rrf_fusion", oracle=_RRF_ORACLE)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: a lexical BM25 arm
    (fixed term query over documents) and a semantic cosine arm (fixed
    query vector over embeddings) each produce a top-50 ranking;
    fused score = sum over arms of 1/(60 + rank), top-10 — the
    standard hybrid-search combiner (Cormack et al.), which needs only
    RANKS from each arm, never comparable scores.

    Scale shape: each arm ends in orderBy().limit(k)
    (TakeOrderedAndProject) so the only unpartitioned windows are the
    O(k)=50-row rank frames; the fuse is a 2k-row union + groupBy.
    The cosine arm injects the 1-row query vector as a scalar
    subquery; the BM25 arm broadcasts the per-term
    df table and the 1-row (N, avgdl) frame.

    Determinism: per-term BM25 contributions and cosines are
    micro-rounded to BIGINT BEFORE summing/ranking (round-then-rank),
    item id breaks all rank ties, and RRF contributions are
    nano-rounded integers so the fused sum is exact."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    tf = (
        docs.select("doc_id", F.size(t).alias("dl"), F.explode(t).alias("term"))
        .filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.select(F.size(tx.tokens(F.col("text"))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2)
            * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
        )
    )
    bm = (
        tf.join(F.broadcast(dfreq), "term")
        .transform(with_scalars, corpus)
        .groupBy("doc_id")
        .agg(
            F.sum(round_long(term_score * 1e6))
            .cast("long")
            .alias("score_micro")
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(RRF_ARM_K)
    )
    w_arm = Window.orderBy(F.desc("score_micro"), F.asc("item_id"))
    bmr = (
        bm.select(F.col("doc_id").alias("item_id"), "score_micro")
        .select(
            "item_id",
            F.lit("bm25").alias("arm"),
            F.row_number().over(w_arm).cast("long").alias("rnk"),
        )
    )
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .transform(with_scalars, q)
        .select(
            F.col("vec_id").alias("item_id"),
            round_long(
                cosine(
                    F.col("qvec"),
                    F.col("embedding"),
                    vec_norm(F.col("qvec")),
                    vec_norm(F.col("embedding")),
                )
                * 1e6
            )
            .alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("item_id"))
        .limit(RRF_ARM_K)
    )
    cosr = cos.select(
        "item_id",
        F.lit("cos").alias("arm"),
        F.row_number().over(w_arm).cast("long").alias("rnk"),
    )
    arms = bmr.unionByName(cosr)
    fused = arms.groupBy("item_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_arms"),
        F.max(F.when(F.col("arm") == "bm25", F.col("rnk"))).alias("bm25_rank"),
        F.max(F.when(F.col("arm") == "cos", F.col("rnk"))).alias("cos_rank"),
        F.sum(round_long(F.lit(1e9) / (F.lit(RRF_C) + F.col("rnk"))))
        .cast("long")
        .alias("rrf_nano"),
    )
    return (
        fused.orderBy(F.desc("rrf_nano"), F.asc("item_id"))
        .limit(RRF_TOP)
        .select(
            "item_id",
            "n_arms",
            "bm25_rank",
            "cos_rank",
            (F.col("rrf_nano") / 1e9).alias("rrf"),
        )
    )


# --------------------------------------------------------------------------
# One-sided containment near-dups (quote/wrapper detection)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.6

_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {JACCARD_N - 1}),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_inter,
       CAST(round(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz) * 1e6)
            AS BIGINT) / 1e6 AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(round(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz) * 1e6)
           AS BIGINT) / 1e6 >= {CONTAINMENT_THRESHOLD}
"""


@register("containment_dups", oracle=_CONTAINMENT_ORACLE)
def containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/wrapper dedup: word-3-gram CONTAINMENT pairs — the
    smaller document's shingles mostly inside the larger's
    (C = |A∩B|/min >= 0.6), the class Jaccard structurally misses
    (a doc fully quoted inside a 10x larger one has J <= 0.1).
    Joinless posting-list expansion, no length-ratio pruning by
    design (operators/dedup.containment_near_dup_pairs)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    out = dd.containment_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=CONTAINMENT_THRESHOLD
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        "containment",
    )


# --------------------------------------------------------------------------
# TF-IDF cosine document-pair similarity (sparse inverted-index join)
# --------------------------------------------------------------------------

TFC_DF_CAP = 64
TFC_THRESHOLD = 0.4

_TFIDF_COSINE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT doc_id, term, df,
         CAST(round(tf * ln(n_docs / df) * 1e3) AS BIGINT) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  CROSS JOIN nd
  WHERE a.df BETWEEN 2 AND greatest({TFC_DF_CAP}, n_docs // 20)
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared,
       CAST(round(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1e6) AS BIGINT) / 1e6
         AS cosine
FROM pairs
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE na.n2 > 0 AND nb.n2 > 0
  AND CAST(round(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1e6) AS BIGINT) / 1e6
      >= {TFC_THRESHOLD}
"""


@register("tfidf_cosine_pairs", oracle=_TFIDF_COSINE_ORACLE)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine document-pair similarity — the classic IR
    near-dup signal between shingle Jaccard (surface overlap) and
    embedding cosine (dense semantics): docs sharing rare weighted
    vocabulary score high even when word ORDER differs completely, the
    case 3-gram shingles miss.

    Scale shape: the dot products come from a posting-list expansion
    over terms with document frequency in [2, max(64, N/20)] — the
    stop-term cap that bounds per-term pair fan-out (same knob as the
    shingle dedup family), scale-aware so a 10x corpus keeps its
    discriminative tail; norms are a per-doc aggregate over ALL terms
    (exact
    semantics — capped terms only shrink the DOT, making scores a
    documented lower bound for stop-term-heavy pairs); the two
    norm joins are O(pairs) equi-joins.

    Determinism: weights tf*ln(N/df) are milli-rounded ONCE to BIGINT
    (1e3 grain keeps the per-doc sum of squared weights inside int64
    at any document length), so dots and norms are exact integer
    arithmetic; the final cosine is one division + micro-round
    (round-then-filter on both sides)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .transform(with_scalars, nd)
        .select(
            "doc_id",
            "term",
            "df",
            "n_docs",
            round_long(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1e3
            )
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    )
    posts = (
        w.filter(
            (F.col("df") >= 2)
            & (
                F.col("df")
                <= F.greatest(F.lit(TFC_DF_CAP), F.expr("n_docs div 20"))
            )
        )
        .groupBy("term")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "w"))).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    combos = dd.upper_pairs(
        "ps",
        lambda a, b: F.struct(
            a["doc_id"].alias("id_a"),
            b["doc_id"].alias("id_b"),
            (a["w"] * b["w"]).alias("ww"),
        ),
    )
    pairs = (
        posts.select(F.explode(combos).alias("pr"))
        .groupBy("pr.id_a", "pr.id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum("pr.ww").cast("long").alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cos = (
        r6(F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")))
    )
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .filter((F.col("na2") > 0) & (F.col("nb2") > 0))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= TFC_THRESHOLD)
        .select("id_a", "id_b", "n_shared", "cosine")
    )


# --------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over the word-adjacency graph)
# --------------------------------------------------------------------------

_TR_ITERS = 3
_TR_TOPK = 20
_TR_SCALE = 1_000_000
_TR_DAMP_NUM, _TR_DAMP_DEN = 85, 100
_TR_BASE = 150_000


def _tr_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.dst AS node,
         CAST({_TR_BASE} + ({_TR_DAMP_NUM} *
              CAST(sum({prev}.r // deg.d) AS BIGINT)) // {_TR_DAMP_DEN}
              AS BIGINT) AS r
  FROM edges e
  JOIN {prev} ON e.src = {prev}.node
  JOIN deg ON deg.src = e.src
  GROUP BY 1)"""


_TEXTRANK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
adj AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> struct_pack(a := t[i], b := t[i+1]))) AS pr
  FROM toks),
und AS (
  SELECT DISTINCT least(pr.a, pr.b) AS u, greatest(pr.a, pr.b) AS v
  FROM adj WHERE pr.a <> pr.b),
edges AS (
  SELECT u AS src, v AS dst FROM und
  UNION ALL
  SELECT v AS src, u AS dst FROM und),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
r0 AS (SELECT src AS node, CAST({_TR_SCALE} AS BIGINT) AS r FROM deg),
{",".join(_tr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_TR_ITERS))}
SELECT node AS term, r AS rank_micro
FROM r{_TR_ITERS}
ORDER BY r DESC, node ASC
LIMIT {_TR_TOPK}
"""


@register("textrank_keywords", oracle=_TEXTRANK_ORACLE)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over
    the undirected word-adjacency graph of the whole corpus (edge =
    two distinct words adjacent anywhere), top-20 terms — the
    unsupervised keyword extractor a corpus pipeline runs next to
    TF-IDF saliency (centrality vs rarity).

    Scale shape: the graph build is one map-side adjacent-pair
    transform + a distinct over O(tokens) rows collapsing to the
    vocabulary-sized edge set; each iteration is one equi-join of
    that edge list against the O(vocab) rank frame + a
    map-side-combinable sum (edges never move — the
    pagerank_top_nodes topology on string nodes). Top-k compiles to
    TakeOrderedAndProject.

    Determinism (pagerank_top_nodes recipe, graph_ops.py:63): ranks
    are integer micro-units, contributions floor-divide by degree,
    damping is integer multiply-floor-divide, iteration count fixed so
    the oracle unrolls it; term string breaks rank ties."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(0), F.size(t) - 2)
    ).otherwise(F.array().cast("array<int>"))
    prs = docs.select(
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(t, i + 1).alias("a"),
                    F.element_at(t, i + 2).alias("b"),
                ),
            )
        ).alias("pr")
    ).filter(F.col("pr").isNotNull() & (F.col("pr.a") != F.col("pr.b")))
    und = prs.select(
        F.least("pr.a", "pr.b").alias("u"), F.greatest("pr.a", "pr.b").alias("v")
    ).distinct()
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_TR_SCALE).cast("long").alias("r")
    )
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("r DIV d").alias("c"))
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(_TR_BASE)
                + F.expr(f"({_TR_DAMP_NUM} * sum(c)) DIV {_TR_DAMP_DEN}")
            )
            .cast("long")
            .alias("r")
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TR_TOPK)
        .select(F.col("node").alias("term"), F.col("r").alias("rank_micro"))
    )


# --------------------------------------------------------------------------
# Classifier agreement: Cohen's kappa between the two language models
# --------------------------------------------------------------------------


def _kappa_oracle() -> str:
    return f"""
WITH a AS ({_lang_oracle()}),
b AS ({_NB_ORACLE}),
j AS (
  SELECT a.doc_id, a.pred_lang AS p1, b.pred_lang AS p2
  FROM a JOIN b ON a.doc_id = b.doc_id),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN p1 = p2 THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM j),
m1 AS (SELECT p1 AS lang, CAST(count(*) AS BIGINT) AS c1 FROM j GROUP BY 1),
m2 AS (SELECT p2 AS lang, CAST(count(*) AS BIGINT) AS c2 FROM j GROUP BY 1),
pe AS (
  SELECT CAST(sum(m1.c1 * m2.c2) AS BIGINT) AS chance_num
  FROM m1 JOIN m2 ON m1.lang = m2.lang)
SELECT s.n, s.agree,
  round(CAST(s.agree AS DOUBLE) / s.n, 6) AS observed_agreement,
  round(CAST(pe.chance_num AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n), 6)
    AS chance_agreement,
  round((CAST(s.agree AS DOUBLE) / s.n
         - CAST(pe.chance_num AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n))
        / (1.0 - CAST(pe.chance_num AS DOUBLE)
                 / (CAST(s.n AS DOUBLE) * s.n)), 6) AS cohens_kappa
FROM s CROSS JOIN pe
"""


@register("classifier_agreement", oracle=_kappa_oracle())
def classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the repo's two language classifiers —
    the stopword-profile voter (lang_id) and the relational Naive
    Bayes (nb_lang_classify) — on the same documents:
    chance-corrected agreement κ = (p_o − p_e)/(1 − p_e), the
    standard 'do two models actually agree beyond their marginal
    label distributions' readout for model-swap decisions.

    Determinism and scale: both arms are the already-oracled
    classifiers; the comparison is one doc_id equi-join, exact
    integer agreement and marginal counts (chance term Σ c1·c2 exact
    BIGINT), doubles once on the 1-row frame.
    """
    la = lang_id(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("p1")
    )
    nb = nb_lang_classify(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("p2")
    )
    j = la.join(nb, "doc_id")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("p1") == F.col("p2")).cast("long"))
        .cast("long")
        .alias("agree"),
    )
    m1 = j.groupBy(F.col("p1").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    m2 = j.groupBy(F.col("p2").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    pe = m1.join(m2, "lang").agg(
        F.sum(F.col("c1") * F.col("c2")).cast("long").alias("chance_num")
    )
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pc = F.col("chance_num").cast("double") / (n * n)
    return s.transform(with_scalars, pe).select(
        "n",
        "agree",
        F.round(po, 6).alias("observed_agreement"),
        F.round(pc, 6).alias("chance_agreement"),
        F.round((po - pc) / (1.0 - pc), 6).alias("cohens_kappa"),
    )


# --------------------------------------------------------------------------
# Greedy submodular coverage: pick k docs maximizing vocabulary coverage
# --------------------------------------------------------------------------

_GC_K = 5


def _gc_round_sql(k: int) -> str:
    prev = f"sel{k - 1}"
    return f"""
cov{k} AS (
  SELECT DISTINCT dt.term FROM doc_terms dt JOIN {prev} s
    ON dt.doc_id = s.doc_id),
gain{k} AS (
  SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM doc_terms dt
  WHERE dt.term NOT IN (SELECT term FROM cov{k})
    AND dt.doc_id NOT IN (SELECT doc_id FROM {prev})
  GROUP BY 1),
pick{k} AS (
  SELECT CAST({k} AS BIGINT) AS rank, doc_id, gain
  FROM gain{k} ORDER BY gain DESC, doc_id ASC LIMIT 1),
sel{k} AS (
  SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM pick{k})"""


_GC_ORACLE = (
    f"""
WITH doc_terms AS (
  SELECT DISTINCT doc_id, unnest({_TOKENS}) AS term FROM documents),
vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM doc_terms),
gain0 AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM doc_terms GROUP BY 1),
pick0 AS (
  SELECT CAST(0 AS BIGINT) AS rank, doc_id, gain
  FROM gain0 ORDER BY gain DESC, doc_id ASC LIMIT 1),
sel0 AS (SELECT doc_id FROM pick0),"""
    + ",".join(_gc_round_sql(k) for k in range(1, _GC_K))
    + f"""
, picks AS (SELECT * FROM pick0 {" ".join(f"UNION ALL SELECT * FROM pick{k}" for k in range(1, _GC_K))}),
curve AS (
  SELECT rank, doc_id, gain,
         CAST(sum(gain) OVER (ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS covered
  FROM picks)
SELECT c.rank, c.doc_id, c.gain, c.covered,
  round(CAST(c.covered AS DOUBLE) / v.v, 6) AS coverage_share
FROM curve c CROSS JOIN vocab v
"""
)


@register("greedy_coverage_selection", oracle=_GC_ORACLE)
def greedy_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular (facility-location) data selection: pick {k}
    documents one at a time, each maximizing the number of NEW
    vocabulary terms it adds to the covered set (ties → smaller
    doc_id) — the classic (1−1/e)-approximate coverage maximizer
    behind 'which docs should we label/keep first' data-selection
    pipelines, with the marginal-gain curve and cumulative coverage
    share. If coverage saturates before {k} picks (every remaining
    doc adds zero new terms), later rounds emit no row — identical
    early-stop semantics in both engines.

    Scale shape: the covered set stays a DISTRIBUTED term frame
    (never driver state): each round is one anti-join of the token
    table against the covered terms + a count + a 1-row argmax —
    k unrolled rounds of bounded joins, exact integer gains.
    """.format(k=_GC_K)
    docs = spread(load_table(spark, sf_dir, "documents"))
    doc_terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
        ).alias("term"),
    ).distinct()
    vocab = doc_terms.agg(
        F.countDistinct("term").cast("long").alias("v")
    )
    gains0 = doc_terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("gain")
    )
    pick = gains0.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).select(
        F.lit(0).cast("long").alias("rank"), "doc_id", "gain"
    )
    picks = pick
    sel = pick.select("doc_id")
    for k in range(1, _GC_K):
        cov = doc_terms.join(sel, "doc_id").select("term").distinct()
        gains = (
            doc_terms.join(sel, "doc_id", "left_anti")
            .join(cov, "term", "left_anti")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
        )
        pick = gains.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).select(
            F.lit(k).cast("long").alias("rank"), "doc_id", "gain"
        )
        picks = picks.unionByName(pick)
        sel = sel.unionByName(pick.select("doc_id"))
    cw = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    curve = picks.select(
        "rank",
        "doc_id",
        "gain",
        F.sum("gain").over(cw).cast("long").alias("covered"),
    )
    return curve.transform(bcast_params, vocab).select(
        "rank",
        "doc_id",
        "gain",
        "covered",
        F.round(F.col("covered").cast("double") / F.col("v"), 6).alias(
            "coverage_share"
        ),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprint near-dup (round 4): the MOSS guarantee
# --------------------------------------------------------------------------

_WINNOW_K = 3
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_WINNOW_K - 1})) AS i,
         unnest(list_transform(generate_series(1, len(t) - {_WINNOW_K - 1}),
                i -> {_h60sql("concat_ws(' ', t[i], t[i+1], t[i+2])")})) AS h
  FROM toks WHERE len(t) >= {_WINNOW_K}),
m AS (
  SELECT doc_id, i, h,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                               AND CURRENT ROW) AS mt
  FROM g),
sel AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, h,
           h = mt
           OR h = lead(mt, 1) OVER wd
           OR h = lead(mt, 2) OVER wd
           OR h = lead(mt, 3) OVER wd AS keep
    FROM m WINDOW wd AS (PARTITION BY doc_id ORDER BY i))
  WHERE keep),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WINNOW_MIN_SHARED})
SELECT id_a, id_b, n_shared,
       CAST(sa.n_fp AS BIGINT) AS n_a, CAST(sb.n_fp AS BIGINT) AS n_b,
       round(CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp), 6)
         AS score
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


@register("winnow_near_dups", oracle=_WINNOW_ORACLE)
def winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-duplicates (Schleimer et al., the
    MOSS algorithm — operators/dedup.winnowing_fingerprints): select
    the minimum hash of every w-window of k-gram hashes, match docs on
    shared fingerprints, score by containment. Unlike shingle Jaccard
    (similarity over WHOLE sets) this carries the local-match
    GUARANTEE — any copied passage of >= w+k-1 tokens shares a
    fingerprint — while indexing only ~2/(w+1) of positions, the
    principled index-size/recall dial for 100 TB plagiarism-style
    detection. Scale shape: doc-partitioned windows select, then the
    posting-list pair expansion (no join operator) with the
    max_fp_freq boilerplate cap available; pair volume is O(df^2) per
    fingerprint, same guard story as Jaccard."""
    from dissertation_iceberg_spark.operators.dedup import (
        winnow_near_dup_pairs,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return winnow_near_dup_pairs(
        docs,
        "text",
        "doc_id",
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
    )


# --------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, arXiv:2112.11446 §A1.1)
# --------------------------------------------------------------------------

# single source of truth for the rule thresholds: operators/text.py
# (shared with the streaming ingest gate)
_GOPHER_MIN_WORDS = tx.GOPHER_MIN_WORDS
_GOPHER_MAX_WORDS = tx.GOPHER_MAX_WORDS

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT source,
         CAST(len({_TOKENS}) AS BIGINT) AS nw,
         CAST(list_sum(list_transform({_TOKENS}, x -> length(x)))
              AS BIGINT) AS swl,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3
                  AS BIGINT) AS n_sym,
         CAST(len(list_intersect(
           list_distinct(list_filter(str_split(lower(text), ' '),
                                     x -> x <> '')),
           ['the', 'a', 'of', 'and', 'in', 'to', 'is'])) AS BIGINT)
           AS n_stop
  FROM documents),
f AS (
  SELECT source,
         CASE WHEN nw < {_GOPHER_MIN_WORDS}
                OR nw > {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END AS f_wc,
         CASE WHEN swl < 3 * nw OR swl > 10 * nw THEN 1 ELSE 0 END
           AS f_mwl,
         CASE WHEN n_sym * 10 > nw THEN 1 ELSE 0 END AS f_sym,
         CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
  FROM t)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(f_wc) AS BIGINT) AS n_fail_wordcount,
       CAST(sum(f_mwl) AS BIGINT) AS n_fail_meanwordlen,
       CAST(sum(f_sym) AS BIGINT) AS n_fail_symbolratio,
       CAST(sum(f_stop) AS BIGINT) AS n_fail_stopwords,
       CAST(sum(CASE WHEN f_wc + f_mwl + f_sym + f_stop = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM f GROUP BY source
"""


@register("gopher_quality_flags", oracle=_GOPHER_ORACLE)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based quality battery (Rae et al. 2021,
    arXiv:2112.11446 appendix A1.1) as a per-source audit: how many
    documents fail each heuristic gate — word count bounds, mean word
    length in [3, 10], symbol-to-word ratio (# and ellipsis) <= 0.1,
    and the >= 2-distinct-stopwords requirement — and how many pass
    every rule. This is the filter-tuning report a corpus build runs
    BEFORE committing to thresholds (the flags, not the filter, so
    the yield of each rule is visible separately).

    Determinism: every rule compares via integer cross-multiplication
    (swl < 3*nw, n_sym*10 > nw) — no float thresholds anywhere, so
    the flags are exact in both engines. The flag expressions are the
    SHARED operators/text.gopher_flags set, also driving the
    streaming ingest gate (streaming/quality_gate_stream) — one rule
    definition, two surfaces. Scale: one scan, all flags map-side
    string/array expressions in codegen, one O(sources) aggregate —
    nothing shuffles but the final tiny rollup."""
    docs = load_table(spark, sf_dir, "documents")
    fl = tx.gopher_flags("text")
    flags = docs.select(
        "source", *[c.alias(name) for name, c in fl.items()]
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_wc").cast("long").alias("n_fail_wordcount"),
        F.sum("f_mwl").cast("long").alias("n_fail_meanwordlen"),
        F.sum("f_sym").cast("long").alias("n_fail_symbolratio"),
        F.sum("f_stop").cast("long").alias("n_fail_stopwords"),
        F.sum(
            (
                F.col("f_wc") + F.col("f_mwl") + F.col("f_sym")
                + F.col("f_stop")
                == 0
            ).cast("int")
        )
        .cast("long")
        .alias("n_pass_all"),
    )


# --------------------------------------------------------------------------
# k-anonymity / l-diversity audit (privacy governance, with dp_noisy_counts)
# --------------------------------------------------------------------------

_KANON_KS = (2, 5, 10, 25, 100)

_KANON_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) % 24 AS hod,
         CAST(round(value * 100) AS BIGINT) // 1000 AS band,
         count(*) AS n_rows,
         count(DISTINCT user_id) AS l_div
  FROM events GROUP BY 1, 2, 3),
tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM g),
ks AS (SELECT unnest([{", ".join(str(k) for k in _KANON_KS)}]) AS k)
SELECT ks.k,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN g.n_rows < ks.k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_groups_below,
       CAST(sum(CASE WHEN g.n_rows < ks.k THEN g.n_rows ELSE 0 END)
            AS BIGINT) AS n_rows_below,
       round(CAST(sum(CASE WHEN g.n_rows < ks.k THEN g.n_rows ELSE 0 END)
                  AS DOUBLE) / tot.total, 6) AS rows_below_share,
       CAST(sum(CASE WHEN g.l_div < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_groups_l1
FROM g CROSS JOIN ks CROSS JOIN tot
GROUP BY ks.k, tot.total
"""


@register("k_anonymity_audit", oracle=_KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over a quasi-identifier tuple
    (event_type, hour-of-day, value band): for each candidate k, how
    many QI equivalence classes fall below k rows, how much row mass
    sits in them, and how many classes have l-diversity 1 (a single
    user behind the whole class — the direct re-identification case).
    The release-gating report a privacy review runs BEFORE publishing
    event-level training data (companion to dp_noisy_counts, which is
    the release mechanism; this is the risk measurement).

    Determinism: the QI tuple is pure integer arithmetic (epoch-µs
    div 3.6e9 mod 24; cents div 1000) — no float binning, no tz
    dependence (session pinned UTC = DuckDB epoch_us). Scale: ONE
    fact-scale groupBy builds the O(classes) frame; the k-thresholds
    fan out over that tiny frame (explode of a literal array, never
    the fact table); the total-row denominator injects as a scalar
    subquery."""
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    hod = (micros("ts") / F.lit(3_600_000_000)).cast("long") % 24
    band = (
        round_long(F.col("value") * 100) / F.lit(1000)
    ).cast("long")
    g = (
        e.select(
            "event_type",
            hod.alias("hod"),
            band.alias("band"),
            "user_id",
        )
        .groupBy("event_type", "hod", "band")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("l_div"),
        )
    )
    tot = g.agg(F.sum("n_rows").cast("long").alias("total"))
    ks = F.explode(F.array(*[F.lit(k) for k in _KANON_KS])).alias("k")
    below = F.col("n_rows") < F.col("k")
    return (
        g.select("n_rows", "l_div", ks)
        .transform(with_scalars, tot)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(below.cast("int")).cast("long").alias("n_groups_below"),
            F.sum(F.when(below, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_rows_below"),
            F.round(
                F.sum(F.when(below, F.col("n_rows")).otherwise(0)).cast(
                    "double"
                )
                / F.first("total"),
                6,
            ).alias("rows_below_share"),
            F.sum((F.col("l_div") < 2).cast("int"))
            .cast("long")
            .alias("n_groups_l1"),
        )
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix (dedup governance report)
# --------------------------------------------------------------------------

_XSRC_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, {_TOKENS} AS t, len({_TOKENS}) AS n
  FROM documents),
ch AS (
  SELECT DISTINCT source,
         md5(array_to_string(t[s:s + {DUP_CHUNK} - 1], ' ')) AS h
  FROM (SELECT doc_id, source, t, n,
               unnest(range(1, n + 1, {DUP_CHUNK})) AS s
        FROM base)),
sz AS (SELECT source, count(*) AS n_chunks FROM ch GROUP BY 1),
sh AS (
  SELECT a.source AS src_a, b.source AS src_b,
         count(*) AS n_shared
  FROM ch a JOIN ch b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(za.n_chunks AS BIGINT) AS n_chunks_a,
       CAST(zb.n_chunks AS BIGINT) AS n_chunks_b,
       round(CAST(n_shared AS DOUBLE)
             / (za.n_chunks + zb.n_chunks - n_shared), 6) AS jaccard
FROM sh
JOIN sz za ON za.source = sh.src_a
JOIN sz zb ON zb.source = sh.src_b
"""


@register("cross_source_duplication", oracle=_XSRC_ORACLE)
def cross_source_duplication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how
    many distinct 16-token chunks they share and the Jaccard overlap
    of their chunk sets — the governance report that decides which
    source to DROP when two crawls mirror each other (per-doc signals
    like ``duplicate_chunk_fraction`` say a doc is copied; this says
    where from).

    Scale: chunk hashes are (source, h)-distinct first (one shuffle on
    the 16-byte hash), so the self-equi-join on h fans out at most
    n_sources per hash — pair volume is bounded by n_chunks x
    n_sources, never corpus-quadratic, and n_sources is a catalog
    constant (hot boilerplate chunks shared by ALL sources are the
    worst case and still cap at sources^2 per hash). Size dims join
    broadcast. The jaccard division is one mirrored float expression
    on exact BIGINT counts."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    base = docs.select(
        "source", t.alias("t"), F.size(t).alias("n")
    )
    ch = (
        base.select(
            "source",
            F.explode(
                F.when(
                    F.col("n") >= 1,
                    F.sequence(F.lit(1), F.col("n"), F.lit(DUP_CHUNK)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("s"),
            "t",
        )
        .select(
            "source",
            F.md5(
                F.array_join(F.slice(F.col("t"), F.col("s"), DUP_CHUNK), " ")
            ).alias("h"),
        )
        .distinct()
    )
    sz = ch.groupBy("source").agg(F.count(F.lit(1)).alias("n_chunks"))
    a = ch.alias("a")
    b = ch.alias("b")
    sh = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    za = sz.select(
        F.col("source").alias("src_a"), F.col("n_chunks").alias("n_chunks_a")
    )
    zb = sz.select(
        F.col("source").alias("src_b"), F.col("n_chunks").alias("n_chunks_b")
    )
    return (
        sh.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.col("n_chunks_a").cast("long").alias("n_chunks_a"),
            F.col("n_chunks_b").cast("long").alias("n_chunks_b"),
            F.round(
                F.col("n_shared").cast("double")
                / (
                    F.col("n_chunks_a")
                    + F.col("n_chunks_b")
                    - F.col("n_shared")
                ),
                6,
            ).alias("jaccard"),
        )
    )
