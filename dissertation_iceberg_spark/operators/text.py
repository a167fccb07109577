"""Text-analysis operators for training-data pipelines (extension).

- token counting (whitespace tokens, empties dropped — SQL-mirrorable)
- quality scoring: length / mean word length / stopword ratio /
  uppercase+digit ratios — cheap per-row expressions, codegen-friendly
- document fingerprinting: md5 (exact content id, both engines agree)
  and rolling-hash prefix fingerprint
- language-ID heuristic: stopword-profile voting over a tiny
  per-language lexicon (deterministic, no model); at 100 TB this is a
  broadcast map-side expression, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)

# THE tokenizer separator, repo-wide. Tokenization is a split on this
# single character (not regex whitespace) because every DuckDB oracle
# mirrors it with string_split(text, ' ') — and because scale guards
# like dedup._capped_pair_volume_bound derive token-count bounds from
# counting THIS character. Changing it to a regex requires updating
# that bound (and every oracle) in lockstep; import this constant
# rather than hard-coding ' '.
TOKEN_SEP = " "

STOPWORDS_EN = ("the", "a", "of", "and", "in", "to", "is")

# tiny per-language profiles for the heuristic language-ID vote
LANG_PROFILES = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "die", "ist"),
    "es": ("el", "la", "los", "es"),
    "fr": ("le", "la", "les", "est"),
    "zh": ("de", "shi", "le", "zai"),
}


def tokens(text: Column) -> Column:
    return F.filter(F.split(text, TOKEN_SEP), lambda x: x != "")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    # empty/whitespace-only docs: n_tokens = 0 -> per-token ratios are
    # NULL, not a divide-by-zero (round-6 fuzz finding; oracle matched)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        F.when(
            n_tok > 0,
            F.round(
                F.aggregate(
                    t, F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double")
                / n_tok,
                6,
            ),
        ).alias("mean_token_len"),
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x))))
    # empty docs: ratios and the composite are NULL (round-6 fuzz
    # finding — ANSI divide-by-zero before; oracle matched)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok)
    uniq_ratio = F.when(
        n_tok > 0, F.size(F.array_distinct(t)).cast("double") / n_tok
    )
    len_ok = (n_tok >= 5) & (n_tok <= 100_000)
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * uniq_ratio
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(score, 6).alias("quality"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: md5 (exact) + xxhash64 (cheap 64-bit)."""
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("md5"),
        F.xxhash64(F.col(text_col)).alias("xxh64"),
    )


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-vote language ID: argmax over per-language profile hits
    (ties broken by language code order) — deterministic and
    SQL-mirrorable; a stand-in for n-gram models whose plumbing (per-row
    score -> argmax) is the real operator shape."""
    t = tokens(F.lower(F.col(text_col)))
    scores = []
    for lang in sorted(LANG_PROFILES):
        prof = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
        hits = F.size(F.filter(t, lambda x: F.array_contains(prof, x)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # argmax: sort ascending by (hits, lang-desc) then take last -> max
    # hits with smallest lang on ties; simpler: array_max on struct works
    # lexicographically (hits first), ties -> larger lang; to prefer the
    # smaller lang code on ties we negate via reverse sort below.
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["hits"].alias("lang_hits"),
    )


# --------------------------------------------------------------------------
# Inverted-index / IR-scoring family (extension: classic corpus ops)
# --------------------------------------------------------------------------


def doc_term_freq(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc, term) -> term frequency. The one explode+shuffle the whole
    IR family shares; downstream term-level frames are vocabulary-sized
    and broadcast back, so the doc-term frame shuffles exactly once."""
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·ln(N/df).

    df-per-term is vocabulary-cardinality (broadcast joined back); the
    corpus size N is a 1-row broadcast, never a collected scalar. The
    rank runs on the ROUNDED score with the term as tiebreak, so the
    selection is deterministic and engine-independent.
    """
    tf = doc_term_freq(df, text_col, id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .transform(with_scalars, n)
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, F.col("term"), "tfidf", F.col("rk").cast("long").alias("rk"))
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of tokens
    taken by the most frequent token / bigram, and the unique-token
    fraction. High values flag boilerplate and degenerate generations.

    Both explodes re-key on doc_id, so the whole operator is two
    doc-keyed aggregations — no term-level global state at all.
    """
    t = tokens(F.col(text_col))
    toks = df.select(F.col(id_col), t.alias("toks"), F.size(t).alias("n_tokens"))
    top_tok = (
        toks.select(id_col, "n_tokens", F.explode("toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"), F.first("n_tokens").alias("n_tokens"))
        .groupBy(id_col)
        .agg(
            F.max("c").alias("top_c"),
            F.first("n_tokens").alias("n_tokens"),
        )
    )
    # bigrams over the first n-1 positions; element_at is 1-indexed and
    # the lambda index is 0-based, hence i+2 for the successor token
    bigrams = F.transform(
        F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(F.col("toks"), i + F.lit(2))),
    )
    top_bg = (
        toks.select(id_col, bigrams.alias("bgs"))
        .select(id_col, F.explode("bgs").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bg_c"), F.count(F.lit(1)).alias("n_bigram_kinds"))
    )
    uniq = df.select(
        F.col(id_col),
        F.size(F.array_distinct(t)).alias("n_unique"),
    )
    n_bg = F.col("n_tokens") - 1
    return (
        top_tok.join(top_bg, id_col)
        .join(uniq, id_col)
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("top_c").cast("double") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.round(
                F.when(n_bg > 0, F.col("top_bg_c").cast("double") / n_bg).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
            F.round(F.col("n_unique").cast("double") / F.col("n_tokens"), 6).alias(
                "unique_frac"
            ),
        )
    )


def posting_list_digest(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = 256,
) -> DataFrame:
    """Sharded inverted index: per (term, doc_id-bucket), the posting
    count, id range, and an md5 digest of the sorted posting list.

    Bucketing by ``doc_id div bucket_width`` bounds every group at
    ``bucket_width`` postings, so no single stop-word term can create a
    giant group — THE fix that makes inverted-index builds survive
    100 TB (a full per-term list for a common term would be billions of
    ids in one reducer). The digest caps output row width; consumers
    needing the raw list read the (term, bucket) shards.
    """
    dt = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .select("term", F.col(id_col).alias("doc_id"))
        .distinct()
    )
    return (
        dt.withColumn("bucket", F.expr(f"doc_id div {bucket_width}"))
        .groupBy("term", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("postings_md5"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Top-k documents for a fixed term query under BM25 (k1 = 1.2,
    b = 0.75; Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5))).

    Doc length rides through the explode as part of the grouping key,
    so there is NO doc-length join — the only joins are the
    vocabulary-sized per-term df table and the 1-row (N, avgdl) frame,
    both broadcast. The final top-k is an orderBy+limit, which Spark
    executes as per-partition top-k + driver merge."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    t = tokens(F.col(text_col))
    tf = (
        df.select(F.col(id_col), F.size(t).alias("dl"), F.explode(t).alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = df.select(F.size(tokens(F.col(text_col))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
    )
    score = idf * (F.col("tf") * F.lit(2.2)) / denom
    return (
        tf.join(F.broadcast(dfreq), "term")
        .transform(with_scalars, corpus)
        .groupBy(id_col)
        .agg(F.round(F.sum(score), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000


def gopher_flags(text_col: str = "text") -> dict[str, Column]:
    """The Gopher rule-based quality flags (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as pure stateless Column expressions —
    shared by the batch audit (queries/llm_ops.gopher_quality_flags)
    and the streaming ingest gate (streaming/quality_gate_stream), so
    both surfaces apply bit-identical rules. Every threshold is an
    integer cross-multiplication; no float compares anywhere."""
    toks = tokens(F.col(text_col))
    nw = F.size(toks).cast("long")
    swl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_hash = F.length(text_col) - F.length(
        F.regexp_replace(text_col, "#", "")
    )
    n_ell = (
        F.length(text_col)
        - F.length(F.regexp_replace(text_col, r"\.\.\.", ""))
    ) / 3
    n_sym = n_hash.cast("long") + n_ell.cast("long")
    lower_toks = tokens(F.lower(F.col(text_col)))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(lower_toks), stop_arr)
    ).cast("long")
    f_wc = ((nw < GOPHER_MIN_WORDS) | (nw > GOPHER_MAX_WORDS)).cast("int")
    f_mwl = ((swl < 3 * nw) | (swl > 10 * nw)).cast("int")
    f_sym = (n_sym * 10 > nw).cast("int")
    f_stop = (n_stop < 2).cast("int")
    return {
        "f_wc": f_wc,
        "f_mwl": f_mwl,
        "f_sym": f_sym,
        "f_stop": f_stop,
    }
