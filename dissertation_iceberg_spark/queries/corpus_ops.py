"""Corpus-preparation queries (round-2 third batch): unigram-LM
scoring, tokenizer-training pair counts, int8 embedding quantization,
write/compaction planning, and a generic event as-of enrich.

Parity tricks reused from the rest of the registry: per-token log
probabilities are rounded to 6 dp and integer-scaled to BIGINT
micro-units BEFORE the per-document sum, so the only float reduction
is replaced by an exact integer one (float sums across a shuffle are
order-nondeterministic); per-vector sums run positionally via
``F.aggregate`` against DuckDB unnest-subselects; monetary values ride
as integer cents.

Reference provenance: extends the text-statistics family
(SURVEY.md §2 extension surface); the as-of enrich reuses the J1
machinery (reference ``iceberg_detection.py`` merge_asof shape) on
generic clickstream data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros
from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.operators import text as tx
from dissertation_iceberg_spark.functions.scalars import (
    bcast_params,
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import round_long

_TOKENS = "list_filter(str_split(text, ' '), x -> x <> '')"

# --------------------------------------------------------------------------
# Unigram-LM document scoring (perplexity proxy)
# --------------------------------------------------------------------------

_ULM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
counts AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
corpus AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                  count(*) AS vocab FROM counts),
lp AS (
  SELECT term,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / (n_total + vocab)) * 1e6)
              AS BIGINT) AS lp_micro
  FROM counts CROSS JOIN corpus)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(lp_micro) AS BIGINT) AS lp_micro_sum,
       round(CAST(sum(lp_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_logprob
FROM tok JOIN lp USING (term)
GROUP BY doc_id
"""


@register("unigram_logprob", oracle=_ULM_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (perplexity proxy): corpus token
    counts -> add-one-smoothed log probabilities -> mean token logprob
    per document. The standard cheap quality signal for pretraining
    corpora (low mean logprob = gibberish / OCR noise).

    Scale shape: one token-keyed aggregation (map-side combinable), a
    vocab-sized logprob table joined back on the token key (shuffle
    equi-join; hot stopword keys are exactly what AQE skew-join
    handles), and one doc-keyed exact integer sum. No collect, no UDF.
    Parity: logprob is rounded then scaled to BIGINT micro-units per
    TOKEN, so the cross-shuffle per-doc reduction is exact integer
    arithmetic — float-sum order never matters. Residual risk (accepted):
    the per-term value itself depends on JVM Math.log and DuckDB
    std::log agreeing after *1e6 rounding; a 1-ulp libm divergence
    landing exactly on a .5 micro-unit tie would flip that term's
    lp_micro (~1e-9 probability per vocab term — same half-ulp-tie
    class the quantization docstring documents)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    corpus = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    lp = counts.transform(with_scalars, corpus).select(
        "term",
        round_long(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_total") + F.col("vocab"))
            )
            * 1e6
        )
        .alias("lp_micro"),
    )
    return (
        tok.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("lp_micro_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "lp_micro_sum",
            F.round(
                F.col("lp_micro_sum").cast("double") / F.col("n_tokens") / 1e6, 6
            ).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# BPE-training pair counts (tokenizer training, first merge iteration)
# --------------------------------------------------------------------------

_BPE_PAIRS_K = 20

_BPE_PAIRS_ORACLE = f"""
WITH base AS (
  SELECT {_TOKENS} AS toks FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               j -> toks[j] || ' ' || toks[j + 1])) AS pair
  FROM base WHERE len(toks) >= 2)
SELECT pair, count(*) AS n_pairs
FROM pairs GROUP BY 1
ORDER BY n_pairs DESC, pair
LIMIT {_BPE_PAIRS_K}
"""


@register("bpe_pair_counts", oracle=_BPE_PAIRS_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner loop of BPE/WordPiece
    tokenizer training (each merge iteration picks the argmax pair).
    Per-row array expression + explode + one map-side-combinable count;
    the final top-k compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge, never a global sort). Ties at the k-boundary
    break on the pair string, so the result is deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tx.tokens(F.col("text"))
    base = docs.select(t.alias("toks")).filter(F.size("toks") >= 2)
    # 0-based subscripts: pair i joins toks[i] and toks[i+1]
    pairs = base.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(_BPE_PAIRS_K)
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization + reconstruction error audit
# --------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH q AS (
  SELECT vec_id,
    (SELECT max(abs(CAST(x AS DOUBLE)))
     FROM (SELECT unnest(embedding) AS x) z) AS amax
  FROM embeddings),
s AS (
  SELECT e.vec_id, q.amax, q.amax / 127 AS scale, e.embedding
  FROM embeddings e JOIN q USING (vec_id) WHERE q.amax > 0)
SELECT vec_id,
  amax,
  (SELECT CAST(sum(CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS BIGINT)
   FROM (SELECT unnest(embedding) AS x) z) AS q_sum,
  (SELECT CAST(sum(abs(CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)))
          AS BIGINT)
   FROM (SELECT unnest(embedding) AS x) z) AS q_l1,
  CAST((SELECT sum(CAST(round(e * e * 1e16) AS BIGINT)) FROM (
           SELECT CAST(x AS DOUBLE)
                  - round(CAST(x AS DOUBLE) / scale) * scale AS e
           FROM (SELECT unnest(embedding) AS x) z0) z) AS DOUBLE)
        / len(embedding) / 1e16 AS mse
FROM s
"""


@register("embedding_quantization", oracle=_QUANT_ORACLE)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector absmax scale
    (amax/127), quantized checksums, and reconstruction MSE — the
    storage-compression step before shipping embeddings to an ANN
    index (4x smaller than float32, which at 100 TB is the difference
    between an index that fits in cluster RAM and one that doesn't).

    Everything is per-row array arithmetic inside whole-stage codegen:
    no shuffle, no UDF. Checksums (sum, L1) are exact BIGINTs; squared
    errors are integer-quantized per element (1e-16 units) so the MSE
    reduction is exact integer arithmetic — float-sum order never
    matters (the registry's half-ulp-tie rule)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, F.abs))
    e = emb.select("vec_id", x.alias("xs"), amax.alias("amax")).filter(
        F.col("amax") > 0
    )
    scale = F.col("amax") / 127
    q = F.transform(F.col("xs"), lambda v: round_long(v / scale))
    # squared errors are quantized to integer 1e-16 units PER ELEMENT
    # before the reduction: each element value is a chain of exact /
    # correctly-rounded IEEE ops (identical across engines), but the
    # float SUM is not order-stable across engines (DuckDB's aggregate
    # is not strictly sequential) and a 1-ulp sum difference landed
    # exactly on a 9-dp rounding tie. Integer sums are order-free.
    err = F.transform(F.col("xs"), lambda v: v - F.round(v / scale) * scale)
    err2 = F.transform(err, lambda e: round_long(e * e * 1e16))
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id",
        F.col("amax").alias("amax"),
        F.aggregate(q, zero, lambda a, v: a + v).alias("q_sum"),
        F.aggregate(q, zero, lambda a, v: a + F.abs(v)).alias("q_l1"),
        # no final round(): the numerator is an identical exact BIGINT
        # in both engines and /64/1e16 is correctly-rounded IEEE
        # division of identical operands — bit-identical without it.
        # (round(x, 9) itself diverges: DuckDB rounds via float
        # multiply + nearbyint, Spark via exact decimal HALF_UP.)
        # divide by the actual vector length, not a hardcoded dim —
        # silently wrong MSE if the embeddings fixture dim ever changes
        (
            F.aggregate(err2, zero, lambda a, v: a + v).cast("double")
            / F.size(F.col("xs"))
            / 1e16
        ).alias("mse"),
    )


# --------------------------------------------------------------------------
# Write/compaction planner (file-sizing for the 100 TB sink)
# --------------------------------------------------------------------------

# test-scale target so sf0.01 produces multi-file plans; production would
# pass ~512 MiB
_TARGET_FILE_BYTES = 4096

_WRITE_PLAN_ORACLE = f"""
WITH agg AS (
  SELECT source, lang,
    count(*) AS n_docs,
    CAST(sum(n_chars) AS BIGINT) AS est_bytes
  FROM documents GROUP BY 1, 2),
plan AS (
  SELECT source, lang, n_docs, est_bytes,
    greatest((est_bytes + {_TARGET_FILE_BYTES} - 1) // {_TARGET_FILE_BYTES}, 1)
      AS n_files
  FROM agg)
SELECT source, lang, n_docs, est_bytes,
  CAST(n_files AS BIGINT) AS n_files,
  CAST((n_docs + n_files - 1) // n_files AS BIGINT) AS docs_per_file
FROM plan
"""


@register("write_plan", oracle=_WRITE_PLAN_ORACLE)
def write_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction/write planner: per output partition (source, lang),
    estimate bytes, target file count (ceil to a size budget), and
    docs per file. This is the planning stage of a small-file-safe
    dynamic-partition write: at 100 TB the repartition before the sink
    uses exactly these counts (repartitionByRange on partition keys +
    a within-partition bucket id = docs_per_file-sized files), instead
    of one-file-per-task confetti. Pure integer arithmetic on one
    narrow aggregate."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.lit(_TARGET_FILE_BYTES)
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("est_bytes"),
    )
    # clamp: a group whose docs are all empty (sum(n_chars)=0) still
    # needs 1 output file, not a NULL docs_per_file from a 0 divisor
    n_files = F.greatest(F.floor((F.col("est_bytes") + t - 1) / t), F.lit(1))
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "est_bytes",
        n_files.alias("n_files"),
        F.floor((F.col("n_docs") + n_files - 1) / n_files).alias("docs_per_file"),
    )


# --------------------------------------------------------------------------
# Generic as-of enrich on events (DuckDB native ASOF JOIN as the oracle)
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH v AS (
  SELECT user_id, view_us, max_by(view_cents, view_event_id) AS view_cents
  FROM (
    SELECT user_id, epoch_us(ts) AS view_us,
           CAST(round(value * 100) AS BIGINT) AS view_cents,
           event_id AS view_event_id
    FROM events WHERE event_type = 'view')
  GROUP BY 1, 2),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.us - v.view_us AS wait_us, v.view_cents
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.us >= v.view_us
"""


@register("asof_enrich", oracle=_ASOF_ORACLE)
def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrich: each purchase picks the latest view by the same
    user at-or-before its timestamp — the generic form of the J1
    iceberg machinery, oracle-checked against DuckDB's NATIVE ASOF
    JOIN. Spark-side it is NOT a range join (which would degrade to
    BroadcastNestedLoop): union-tag both sides, one window partitioned
    by user ordered by (us, tag), and a running last_value(ignorenulls)
    — one shuffle on user_id, linear per partition. Equal timestamps
    match (view sorts before purchase at the same us), mirroring ASOF's
    inclusive >=."""
    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    cents = round_long(F.col("value") * 100)
    # Two views by one user in the same microsecond would make both the
    # window's F.last and the oracle ASOF's tie choice arbitrary — a
    # latent parity flake. Dedupe to one view per (user_id, us) with a
    # deterministic winner (max event_id) in BOTH engines first.
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", us.alias("us"))
        .agg(F.max_by(cents, F.col("event_id")).alias("view_cents"))
        .select(
            "user_id",
            "us",
            F.lit(0).alias("tag"),
            F.col("us").alias("view_us"),
            "view_cents",
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("us"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("view_us"),
        F.lit(None).cast("long").alias("view_cents"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = v.unionByName(p).select(
        "event_id",
        "user_id",
        "us",
        "tag",
        F.last("view_us", ignorenulls=True).over(w).alias("lv_us"),
        F.last("view_cents", ignorenulls=True).over(w).alias("lv_cents"),
    )
    return tagged.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        (F.col("us") - F.col("lv_us")).alias("wait_us"),
        F.col("lv_cents").alias("view_cents"),
    )


# --------------------------------------------------------------------------
# Bigram conditional-LM document scoring (second-order fluency signal)
# --------------------------------------------------------------------------

_BLM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM base),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               j -> toks[j] || ' ' || toks[j + 1])) AS pair
  FROM base WHERE len(toks) >= 2),
pc AS (SELECT pair, count(*) AS c2 FROM pairs GROUP BY 1),
ctx AS (
  SELECT str_split(pair, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM pc GROUP BY 1),
vocab AS (SELECT count(DISTINCT term) AS v FROM tok),
lp AS (
  SELECT pc.pair,
         CAST(round(ln(CAST(pc.c2 + 1 AS DOUBLE) / (ctx.c1 + vocab.v)) * 1e6)
              AS BIGINT) AS lp_micro
  FROM pc
  JOIN ctx ON str_split(pc.pair, ' ')[1] = ctx.w1
  CROSS JOIN vocab)
SELECT p.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(lp.lp_micro) AS BIGINT) AS lp_micro_sum,
       round(CAST(sum(lp.lp_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_logprob
FROM pairs p JOIN lp USING (pair)
GROUP BY 1
"""


@register("bigram_logprob", oracle=_BLM_ORACLE)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM document scoring: add-one-smoothed
    ln P(w2|w1) = ln((c(w1 w2)+1)/(c(w1)+V)) summed per document — the
    second-order fluency signal that catches scrambled-word text the
    unigram score cannot (same marginals, broken transitions). Pairs
    ride as single space-joined strings so the pair key, the context
    marginal, and the scoring join all share one representation.

    Scale shape mirrors unigram_logprob one order up: pair counts are
    map-side combinable; the context marginal re-aggregates the
    ALREADY-COLLAPSED pair table (O(pair types), not O(tokens)); the
    scoring join is pair-keyed — hot bigrams are AQE skew territory;
    the per-doc reduction is an exact integer micro-unit sum (same
    libm-at-the-edge risk class as unigram, documented there). Docs
    with fewer than 2 tokens drop out in both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    tok = base.select(F.explode("toks").alias("term"))
    pairs = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("pair"),
    )
    pc = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c2"))
    ctx = (
        pc.groupBy(F.split(F.col("pair"), " ").getItem(0).alias("w1"))
        .agg(F.sum("c2").cast("long").alias("c1"))
    )
    vocab = tok.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    lp = (
        pc.join(ctx, F.split(F.col("pair"), " ").getItem(0) == F.col("w1"))
        .transform(with_scalars, vocab)
        .select(
            "pair",
            round_long(
                F.log(
                    (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
                )
                * 1e6
            )
            .alias("lp_micro"),
        )
    )
    return (
        pairs.join(lp, "pair")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("lp_micro_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "lp_micro_sum",
            F.round(
                F.col("lp_micro_sum").cast("double") / F.col("n_bigrams") / 1e6, 6
            ).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Kneser-Ney bigram document scoring (smoothed conditional LM)
# --------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount; 3/4 is exact in binary floating point

_KN_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               j -> toks[j] || ' ' || toks[j + 1])) AS pair
  FROM base WHERE len(toks) >= 2),
pc AS (SELECT pair, count(*) AS c2 FROM pairs GROUP BY 1),
ctx AS (
  SELECT str_split(pair, ' ')[1] AS w1,
         CAST(sum(c2) AS BIGINT) AS c1,
         count(*) AS n1p_fwd
  FROM pc GROUP BY 1),
cont AS (
  SELECT str_split(pair, ' ')[2] AS w2, count(*) AS n1p_rev
  FROM pc GROUP BY 1),
types AS (SELECT count(*) AS n_types FROM pc),
lp AS (
  SELECT pc.pair,
         CAST(round(ln(
             (pc.c2 - {_KN_D}) / ctx.c1
             + {_KN_D} * ctx.n1p_fwd / ctx.c1
               * (CAST(cont.n1p_rev AS DOUBLE) / types.n_types)
           ) * 1e6) AS BIGINT) AS lp_micro
  FROM pc
  JOIN ctx ON str_split(pc.pair, ' ')[1] = ctx.w1
  JOIN cont ON str_split(pc.pair, ' ')[2] = cont.w2
  CROSS JOIN types)
SELECT p.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(lp.lp_micro) AS BIGINT) AS lp_micro_sum,
       round(CAST(sum(lp.lp_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_logprob
FROM pairs p JOIN lp USING (pair)
GROUP BY 1
"""


@register("kneser_ney_bigram", oracle=_KN_ORACLE)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram document scoring:
    P(w2|w1) = (c(w1 w2) − D)/c(w1) + D·N1+(w1,·)/c(w1) · Pcont(w2),
    Pcont(w2) = N1+(·,w2)/|bigram types|, D = 0.75 — the
    industry-standard n-gram smoothing (continuation counts demote
    words that only ever follow one context, e.g. "Francisco").
    Documents are scored over their OWN bigrams, so every scored pair
    has c ≥ 1 and the discounted term never needs a max(·,0) clamp.

    Scale shape identical to `bigram_logprob`: every marginal
    (forward-context totals+types, reverse continuation types, global
    type count) re-aggregates the already-collapsed O(pair types)
    table, never the token stream; the scoring join is pair-keyed; the
    per-doc reduction is an exact integer micro-unit sum. D=3/4 is
    binary-exact so the per-pair double expression is engine-stable
    (same accepted half-ulp libm class as the other LM scores)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    pairs = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("pair"),
    )
    pc = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.split(F.col("pair"), " ").getItem(0)
    w2 = F.split(F.col("pair"), " ").getItem(1)
    ctx = pc.groupBy(w1.alias("w1")).agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fwd"),
    )
    cont = pc.groupBy(w2.alias("w2")).agg(
        F.count(F.lit(1)).alias("n1p_rev")
    )
    types = pc.agg(F.count(F.lit(1)).alias("n_types"))
    lp = (
        pc.join(ctx, w1 == F.col("w1"))
        .join(cont, w2 == F.col("w2"))
        .transform(with_scalars, types)
        .select(
            "pair",
            round_long(
                F.log(
                    (F.col("c2") - F.lit(_KN_D)) / F.col("c1")
                    + F.lit(_KN_D)
                    * F.col("n1p_fwd")
                    / F.col("c1")
                    * (
                        F.col("n1p_rev").cast("double")
                        / F.col("n_types")
                    )
                )
                * 1e6
            )
            .alias("lp_micro"),
        )
    )
    return (
        pairs.join(lp, "pair")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("lp_micro_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "lp_micro_sum",
            F.round(
                F.col("lp_micro_sum").cast("double") / F.col("n_bigrams") / 1e6, 6
            ).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-training loop (3 greedy merge iterations, exact semantics)
# --------------------------------------------------------------------------

_BPE_ITERS = 3


def _bpe_iteration_ctes(i: int, prev: str) -> str:
    """One BPE merge iteration as a DuckDB CTE chain: count adjacent
    pairs in ``prev``, pick the argmax (count desc, pair asc), then
    greedy left-to-right non-overlapping merge via run-parity: within
    each maximal run of consecutive matches, odd (1-based) positions
    merge and the following token is absorbed."""
    return f"""
pairs{i} AS (
  SELECT toks[j] AS a, toks[j + 1] AS b, count(*) AS n_pairs
  FROM {prev}, LATERAL unnest(range(1, len(toks))) u(j)
  WHERE len(toks) >= 2
  GROUP BY 1, 2),
best{i} AS (
  SELECT a, b, n_pairs FROM pairs{i}
  ORDER BY n_pairs DESC, a, b LIMIT 1),
tok{i} AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM {prev}),
m{i} AS (
  SELECT doc_id, pos, tok,
    coalesce(tok = (SELECT a FROM best{i})
             AND lead(tok) OVER w = (SELECT b FROM best{i}), false) AS m
  FROM tok{i} WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
r{i} AS (
  SELECT *, m AND NOT coalesce(lag(m) OVER w, false) AS new_run
  FROM m{i} WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
s{i} AS (
  SELECT *, sum(CASE WHEN new_run THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS run_id
  FROM r{i}),
x{i} AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, run_id
                               ORDER BY pos) AS idx,
            m AND (row_number() OVER (PARTITION BY doc_id, run_id
                                      ORDER BY pos) % 2 = 1) AS do_merge
  FROM s{i}),
y{i} AS (
  SELECT *, coalesce(lag(do_merge) OVER
              (PARTITION BY doc_id ORDER BY pos), false) AS absorbed
  FROM x{i}),
seq{i} AS (
  SELECT doc_id,
    list(CASE WHEN do_merge
         THEN (SELECT a FROM best{i}) || '_' || (SELECT b FROM best{i})
         ELSE tok END ORDER BY pos) AS toks
  FROM y{i} WHERE NOT absorbed GROUP BY doc_id)"""


def _bpe_oracle() -> str:
    ctes = [
        f"seq0 AS (SELECT doc_id, {_TOKENS} AS toks FROM documents)"
    ]
    selects = []
    for i in range(1, _BPE_ITERS + 1):
        ctes.append(_bpe_iteration_ctes(i, f"seq{i - 1}"))
        selects.append(
            f"""SELECT CAST({i} AS BIGINT) AS iteration,
  (SELECT a || ' ' || b FROM best{i}) AS merged_pair,
  (SELECT CAST(n_pairs AS BIGINT) FROM best{i}) AS pair_count,
  (SELECT CAST(sum(len(toks)) AS BIGINT) FROM seq{i}) AS tokens_after"""
        )
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_merge_once(seq: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One greedy BPE merge over (doc_id, toks): returns (best-pair
    1-row frame, merged sequence frame). Every window partitions by
    doc_id — fully parallel; the argmax pair broadcasts back."""
    pairs = (
        seq.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS a, toks[i + 1] AS b))"
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    best = pairs.orderBy(
        F.col("n_pairs").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(1)
    tok = seq.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    t = (
        tok.transform(with_scalars, best)
        .withColumn(
            "m",
            F.coalesce(
                (F.col("tok") == F.col("a"))
                & (F.lead("tok").over(wdoc) == F.col("b")),
                F.lit(False),
            ),
        )
        .withColumn(
            "new_run",
            F.col("m") & ~F.coalesce(F.lag("m").over(wdoc), F.lit(False)),
        )
        .withColumn(
            "run_id", F.sum(F.col("new_run").cast("int")).over(wdoc)
        )
    )
    wrun = Window.partitionBy("doc_id", "run_id").orderBy("pos")
    t = t.withColumn(
        "do_merge", F.col("m") & (F.row_number().over(wrun) % 2 == 1)
    ).withColumn(
        "absorbed",
        F.coalesce(F.lag("do_merge").over(wdoc), F.lit(False)),
    )
    merged = (
        t.filter(~F.col("absorbed"))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("do_merge"),
                F.concat(F.col("a"), F.lit("_"), F.col("b")),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))),"
                " s -> s.tok)"
            ).alias("toks")
        )
    )
    return best, merged


@register("bpe_merge_training", oracle=_bpe_oracle())
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training loop: {n} greedy merge iterations at the
    word level — each round counts adjacent pairs, merges the argmax
    pair left-to-right non-overlapping everywhere in the corpus, and
    recounts. Output is the merge table itself (the tokenizer
    artifact): per iteration the merged pair, its count at selection,
    and the corpus token count after merging. Generalizes the
    single-step `bpe_pair_counts` into the real training recurrence.

    Exact greedy semantics without any sequential scan: matches at
    overlapping positions only arise in same-token runs (A=B), and
    greedy left-to-right = keeping the odd (1-based) positions of each
    maximal run of consecutive matches — expressed as islands +
    run-parity with windows PARTITIONED BY doc (fully parallel;
    pytest pins [a a a] -> [a_a, a]). The argmax pair is a broadcast
    1-row frame with a (count desc, pair) total-order tiebreak; pair
    counts are map-side-combinable integer aggregations; sequences
    rebuild via per-doc sorted collect_list. Each iteration is one
    bounded pipeline — {n} iterations = {n} chained pipelines, the
    same shape at 100 TB (BPE training runs on a sampled shard in
    practice; the plumbing is identical).""".format(n=_BPE_ITERS)
    seq = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", tx.tokens(F.col("text")).alias("toks")
    )
    stats = None
    for i in range(1, _BPE_ITERS + 1):
        best, seq = _bpe_merge_once(seq)
        # three consumers (the tokens_after sum, the next round's pair
        # count and its posexplode): pinned, not cached, so no cache
        # entry outlives the call (the kcore rule)
        seq = pin(seq)
        n_after = seq.agg(
            F.sum(F.size("toks")).cast("long").alias("tokens_after")
        )
        row = best.transform(bcast_params, n_after).select(
            F.lit(i).cast("long").alias("iteration"),
            F.concat(F.col("a"), F.lit(" "), F.col("b")).alias(
                "merged_pair"
            ),
            F.col("n_pairs").cast("long").alias("pair_count"),
            "tokens_after",
        )
        stats = row if stats is None else stats.unionByName(row)
    return stats


# --------------------------------------------------------------------------
# SoftDeDup reweighting (commonness-based soft deduplication)
# --------------------------------------------------------------------------

_SOFTDEDUP_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_TOKENS}) AS term FROM documents),
counts AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
corpus AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                  count(*) AS vocab FROM counts),
lp AS (
  SELECT term,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / (n_total + vocab)) * 1e6)
              AS BIGINT) AS lp_micro
  FROM counts CROSS JOIN corpus),
pd AS (
  SELECT doc_id, source, count(*) AS n_tokens,
         CAST(round(CAST(CAST(sum(lp_micro) AS BIGINT) AS DOUBLE)
                    / count(*)) AS BIGINT) AS lp_mean_micro
  FROM tok JOIN lp USING (term) GROUP BY 1, 2),
tm AS (
  SELECT *,
         CAST(round(CAST(n_tokens AS DOUBLE)
                    * exp(CAST(lp_mean_micro AS DOUBLE) / -1e6) * 1e3)
              AS BIGINT) AS term_q
  FROM pd),
st AS (SELECT CAST(sum(term_q) AS BIGINT) AS s_q,
              CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM tm)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       lp_mean_micro,
       round(CAST(t_tokens AS DOUBLE) * 1e3 / s_q
             * exp(CAST(lp_mean_micro AS DOUBLE) / -1e6), 6)
         AS sample_weight
FROM tm CROSS JOIN st
"""


@register("softdedup_weights", oracle=_SOFTDEDUP_ORACLE)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style reweighting (He et al., ACL 2024): instead of
    DELETING near-duplicates, down-weight common documents in the
    sampling distribution. Commonness is the add-one-smoothed unigram
    likelihood per token (exactly ``unigram_logprob``'s score — one
    definition, two surfaces); each document's raw weight is the
    inverse commonness exp(-lp_mean), normalized so the reweighted
    corpus preserves the total token budget:
    sum_j n_tokens_j * w_j = sum_j n_tokens_j.

    Parity: per-token logprobs micro-round to BIGINT (the libm rule),
    so per-doc means are exact; each doc's normalization term
    n_tokens * exp(-lp_mean) quantizes to BIGINT kilo-units BEFORE the
    corpus sum (per-doc terms land ~1e8 units, so relative
    quantization error is ~1e-8 and the budget identity holds to
    float-rounding; the quantum is the precision/headroom dial — a
    1e12-doc corpus drops it to trade 2^63 headroom for budget
    precision), making the denominator exact integer arithmetic; the
    final weight is ONE identically-shaped float expression per row.

    Scale: identical profile to ``unigram_logprob`` (token-keyed
    count, vocab-sized logprob table joined back on the token key —
    AQE skew-join territory for stopword heat, doc-keyed integer
    reduction) plus two O(1) scalar subqueries; the weight column is
    then a map-side expression. Nothing new shuffles."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", "source", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    corpus = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    lp = counts.transform(with_scalars, corpus).select(
        "term",
        round_long(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_total") + F.col("vocab"))
            )
            * 1e6
        )
        .alias("lp_micro"),
    )
    pd = (
        tok.join(lp, "term")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").cast("long").alias("s"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            round_long(F.col("s").cast("double") / F.col("n_tokens"))
            .alias("lp_mean_micro"),
        )
    )
    inv_commonness = F.exp(F.col("lp_mean_micro").cast("double") / -1e6)
    tm = pd.withColumn(
        "term_q",
        round_long(
            F.col("n_tokens").cast("double") * inv_commonness * 1e3
        ),
    )
    st = tm.agg(
        F.sum("term_q").cast("long").alias("s_q"),
        F.sum("n_tokens").cast("long").alias("t_tokens"),
    )
    return tm.transform(with_scalars, st).select(
        "doc_id",
        "source",
        "n_tokens",
        "lp_mean_micro",
        F.round(
            F.col("t_tokens").cast("double")
            * 1e3
            / F.col("s_q")
            * inv_commonness,
            6,
        ).alias("sample_weight"),
    )
