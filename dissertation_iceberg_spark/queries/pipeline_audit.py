"""Training-data pipeline audits (round-5 second batch): the three
reports a corpus build runs to TUNE its pipeline before committing to
knobs — a Johnson-Lindenstrauss projection-fidelity audit (is d'=16
enough for the ANN index?), an LSH band/row S-curve (which (b, r)
catches the dups we care about?), and CCNet-style reference-LM
perplexity buckets (which slice of each source survives a quality
cut?).

Parity strategy (registry rules): embeddings are integer-quantized to
micro-units BEFORE any arithmetic, so projections / norms are exact
BIGINT sums (order-free across engines); collision probabilities use
UNROLLED literal-exponent multiplication (left-associated IEEE
multiply chains are exactly rounded, so identical shapes give
bit-identical doubles — never ``pow``, which is libm); log
probabilities micro-round per token (the registry's libm rule); all
order statistics come from distinct-value histograms via the bucketed
two-pass cumsum kernel (``functions/ranks.py``) — no global sort, no
unpartitioned window over a data-scaled frame.

Reference provenance: extends the corpus-preparation family
(SURVEY.md §2 extension surface) — JL audit per Achlioptas (2003)
database-friendly random projections; S-curve per Leskovec/Rajaraman/
Ullman MMDS ch.3 (1-(1-s^r)^b); perplexity bucketing per CCNet
(Wenzek et al. 2020, arXiv:1911.00359).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.hashing import (
    hash60,
    hash60_py,
    hash60_sql,
    seeded_hash60_sql,
)
from dissertation_iceberg_spark.functions.ranks import (
    bucketed_exclusive_cumsums,
)
from dissertation_iceberg_spark.functions.scalars import with_scalars
from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.operators import dedup as dd
from dissertation_iceberg_spark.operators import text as tx
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import round_long

_TOKENS = "list_filter(str_split(text, ' '), x -> x <> '')"

# --------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# --------------------------------------------------------------------------

JL_D = 64  # fixture embedding dim (filtered, not assumed)
JL_K = 16  # projection dim: the 4x compression an ANN index wants

# Deterministic +-1 sign matrix from the portable md5 hash family —
# data-independent, so it is a LITERAL in both engines (computed once
# at import, same constants in the Spark plan and the oracle SQL).
_JL_POS: dict[int, list[int]] = {
    j: [
        i
        for i in range(JL_D)
        if hash60_py(f"jl:{j}:{i}") % 2 == 0
    ]
    for j in range(JL_K)
}
_JL_NEG: dict[int, list[int]] = {
    j: [i for i in range(JL_D) if i not in set(_JL_POS[j])]
    for j in range(JL_K)
}


def _jl_p_sql(j: int) -> str:
    """DuckDB text of projection coordinate j over BIGINT list ``q``."""
    pos = " + ".join(f"q[{i + 1}]" for i in _JL_POS[j])
    neg = " + ".join(f"q[{i + 1}]" for i in _JL_NEG[j])
    return f"(({pos}) - ({neg}))"


_JL_ORACLE = f"""
WITH qt AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q
  FROM embeddings WHERE len(embedding) = {JL_D}),
pr AS (
  SELECT vec_id, label,
         ({" + ".join(f"q[{i + 1}] * q[{i + 1}]" for i in range(JL_D))})
           AS qn,
         {", ".join(f"{_jl_p_sql(j)} AS p{j}" for j in range(JL_K))}
  FROM qt),
d AS (
  SELECT vec_id, label,
         CAST(round(CAST(({" + ".join(f"p{j} * p{j}" for j in range(JL_K))})
                         AS DOUBLE) / CAST(qn AS DOUBLE) * 625e2) AS BIGINT)
           AS dm
  FROM pr WHERE qn > 0),
hist AS (
  SELECT label, dm, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY label ORDER BY dm) AS ci,
         sum(count(*)) OVER (PARTITION BY label) AS n
  FROM d GROUP BY 1, 2),
med AS (
  SELECT label, min(dm) AS md FROM hist WHERE ci >= (n + 1) // 2
  GROUP BY 1)
SELECT d.label, count(*) AS n_vecs,
  round(CAST(CAST(sum(dm) AS BIGINT) AS DOUBLE) / count(*) / 1e6, 6)
    AS mean_distortion,
  round(CAST(any_value(md) AS DOUBLE) / 1e6, 6) AS median_distortion,
  round(CAST(min(dm) AS DOUBLE) / 1e6, 6) AS min_distortion,
  round(CAST(max(dm) AS DOUBLE) / 1e6, 6) AS max_distortion,
  CAST(sum(CASE WHEN abs(dm - 1000000) <= 100000 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_within_10pct
FROM d JOIN med USING (label)
GROUP BY 1
"""


def jl_audit_frame(emb: DataFrame) -> DataFrame:
    """Frame-level JL audit kernel over an embeddings DataFrame
    (vec_id, embedding, label) — the shape :func:`jl_distortion_audit`
    registers and ``tools/scale_exp.py`` measures on replicated
    frames.

    Round 9 (guide §1.2/§4): the projection is evaluated from SQL
    strings instead of a transform-array + per-projection element_at
    Column tree — (a) construction: a handful of F.expr parses replace
    >1000 py4j Column round trips (DataFrame build was 6.2 s of the
    12 s total at sf0.1); (b) execution: no higher-order lambdas
    anywhere, so the projection runs in codegen with subexpression
    elimination; (c) each p_j uses the half-size identity
    p_j = 2·Σ_pos q_i − Σ_all q_i (exact BIGINT arithmetic — pos−neg
    ≡ 2·pos−total). Every value is the identical exact integer, so dm
    and the oracle comparison are untouched. The expression is kept as
    exactly TWO projection stages so CollapseProject can inline at
    most one level (a first 3-stage draft of this rewrite let the
    optimizer square the tree across collapse iterations and OOM the
    driver). The per-vector (vec_id, label, dm) frame is then PINNED
    (§5): it feeds both the median histogram and the stats rollup,
    which otherwise re-derived the projection scan per consumer (44
    Exchange refs before)."""
    emb = emb.filter(F.size("embedding") == JL_D)

    def _q(i: int) -> str:
        return (
            f"CAST(round(CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            " * 1e6) AS BIGINT)"
        )

    qn_sql = " + ".join(f"{_q(i)} * {_q(i)}" for i in range(JL_D))
    s_sql = " + ".join(_q(i) for i in range(JL_D))
    base = emb.select(
        "vec_id",
        "label",
        F.expr(qn_sql).alias("qn"),
        *[
            F.expr(
                "2 * ("
                + " + ".join(_q(i) for i in _JL_POS[j])
                + f") - ({s_sql})"
            ).alias(f"p{j}")
            for j in range(JL_K)
        ],
    )
    pn = F.expr(" + ".join(f"p{j} * p{j}" for j in range(JL_K)))
    d = pin(
        base.filter(F.col("qn") > 0).select(
            "vec_id",
            "label",
            round_long(
                pn.cast("double") / F.col("qn").cast("double") * F.lit(625e2)
            )
            .alias("dm"),
        )
    )
    hist = d.groupBy("label", "dm").agg(F.count(F.lit(1)).alias("cnt"))
    cum = bucketed_exclusive_cumsums(
        hist, "dm", ["cnt"], group_cols=["label"]
    )
    tot = hist.groupBy("label").agg(F.sum("cnt").alias("n"))
    med = (
        cum.join(F.broadcast(tot), "label")
        .filter(
            F.col("cum_cnt") + F.col("cnt") >= F.expr("(n + 1) div 2")
        )
        .groupBy("label")
        .agg(F.min("dm").alias("md"))
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("dm").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("mean_distortion"),
            F.round(F.min("dm").cast("double") / 1e6, 6).alias(
                "min_distortion"
            ),
            F.round(F.max("dm").cast("double") / 1e6, 6).alias(
                "max_distortion"
            ),
            F.sum((F.abs(F.col("dm") - 1000000) <= 100000).cast("int"))
            .cast("long")
            .alias("n_within_10pct"),
        )
        .join(F.broadcast(med), "label")
        .select(
            "label",
            "n_vecs",
            "mean_distortion",
            F.round(F.col("md").cast("double") / 1e6, 6).alias(
                "median_distortion"
            ),
            "min_distortion",
            "max_distortion",
            "n_within_10pct",
        )
    )


@register("jl_distortion_audit", oracle=_JL_ORACLE)
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection fidelity audit: project the
    64-dim embeddings to 16 dims with a deterministic +-1 sign matrix
    (Achlioptas 2003 database-friendly projection, signs from the
    portable md5 family) and report, per label, the distribution of
    the norm-distortion ratio ||Px||^2 / (k * ||x||^2) — the number
    that tells you whether a 4x-smaller ANN index is safe, BEFORE
    rebuilding it. distortion ~= 1 means distances survive.

    Parity: elements are quantized to integer micro-units first, so
    every projection coordinate and both squared norms are exact
    BIGINT arithmetic — sum order never matters; the only float op is
    one final division of identical exact integers (correctly-rounded
    IEEE, bit-identical across engines). The sign matrix is a literal
    (data-independent), identical in both plans by construction.

    Scale: projection + norms are per-row codegen over the array —
    zero shuffle; the label rollup is map-side combinable; the exact
    median rides the distinct-value histogram through the bucketed
    two-pass cumsum kernel (no global sort, no per-label row-scale
    window). At 100 TB this is one scan + two tiny aggregates."""
    return jl_audit_frame(spread(load_table(spark, sf_dir, "embeddings")))


# --------------------------------------------------------------------------
# LSH band/row S-curve (MinHash parameter tuning)
# --------------------------------------------------------------------------

SCURVE_PAIR_THRESHOLD = 0.05  # candidate floor: keep the sub-dup band
SCURVE_TAU = 0.35  # "true duplicate" target threshold being tuned for
# e-notation in the SQL: DuckDB parses 0.05 as DECIMAL (exact) while
# Spark compiles the Python float to DOUBLE — e-notation is DOUBLE in
# both engines (the BM25 oracle's documented rule)
_THR_SQL = "5e-2"
_TAU_SQL = "35e-2"
# (bands, rows/band) layouts of a <=16-hash MinHash signature
SCURVE_GRID = ((16, 1), (8, 2), (5, 3), (4, 4), (2, 8), (1, 16))

_SCURVE_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
           AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
        >= {_THR_SQL}
    AND sa.sz >= {_THR_SQL} * sb.sz
    AND sb.sz >= {_THR_SQL} * sa.sz)
"""


def _pow_sql(expr: str, n: int) -> str:
    """Left-associated multiply chain: exact IEEE, never libm pow."""
    return "(" + " * ".join([expr] * n) + ")"


def _scurve_arm_sql(b: int, r: int) -> str:
    sr = _pow_sql("jaccard", r)
    tb = _pow_sql(f"(1e0 - {sr})", b)
    p = f"CAST(round((1e0 - {tb}) * 1e6) AS BIGINT)"
    return f"""
  SELECT {b} AS bands, {r} AS rows_per_band, jaccard, {p} AS p_micro
  FROM pairs"""


_SCURVE_ORACLE = (
    _SCURVE_PAIRS
    + ", arms AS ("
    + " UNION ALL ".join(_scurve_arm_sql(b, r) for b, r in SCURVE_GRID)
    + f""")
SELECT bands, rows_per_band,
  count(*) AS n_pairs,
  CAST(sum(CASE WHEN jaccard >= {_TAU_SQL} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_true,
  CASE WHEN sum(CASE WHEN jaccard >= {_TAU_SQL} THEN 1 ELSE 0 END) > 0
    THEN round(CAST(CAST(sum(CASE WHEN jaccard >= {_TAU_SQL}
                    THEN p_micro ELSE 0 END) AS BIGINT) AS DOUBLE)
         / sum(CASE WHEN jaccard >= {_TAU_SQL} THEN 1 ELSE 0 END) / 1e6,
         6)
  END AS expected_recall,
  round(CAST(CAST(sum(CASE WHEN jaccard < {_TAU_SQL}
             THEN p_micro ELSE 0 END) AS BIGINT) AS DOUBLE) / 1e6, 6)
    AS expected_fp_pairs
FROM arms GROUP BY 1, 2
"""
)


def _pow_col(c, n: int):
    return functools.reduce(operator.mul, [c] * n)


@register("lsh_band_scurve", oracle=_SCURVE_ORACLE)
def lsh_band_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter tuning: for each (bands b, rows-per-band
    r) layout of a <=16-hash signature, the S-curve collision
    probability P(s) = 1 - (1 - s^r)^b evaluated on the OBSERVED
    candidate-pair Jaccard distribution — expected recall on true
    dups (s >= tau) and expected false-positive candidate volume
    below tau. This is how the b/r knobs of ``minhash_lsh_pairs`` get
    chosen from data instead of folklore (MMDS ch.3).

    Parity: s^r and (1-s^r)^b are UNROLLED literal-exponent multiply
    chains — left-associated IEEE multiplication is exactly rounded,
    so identical shapes are bit-identical across engines (libm pow is
    not); probabilities micro-round to BIGINT before the sum, so the
    aggregation is exact integer arithmetic.

    Scale: pair generation reuses the capped posting-list expansion
    kernel (``operators/dedup.py`` — no join operator, stop-shingle
    cap available); the grid fans out map-side from a literal array
    (never a join); the rollup is O(grid). At 100 TB this tuning
    report runs on a corpus SAMPLE — the S-curve is a property of the
    similarity distribution, which a uniform doc sample preserves."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dd.jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=3, threshold=SCURVE_PAIR_THRESHOLD
    ).select("jaccard")
    s = F.col("jaccard")
    arms = []
    for b, r in SCURVE_GRID:
        sr = _pow_col(s, r)
        tb = _pow_col(F.lit(1e0) - sr, b)
        p = round_long((F.lit(1e0) - tb) * 1e6)
        arms.append(
            F.struct(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                p.alias("p_micro"),
            )
        )
    g = pairs.select(
        "jaccard", F.explode(F.array(*arms)).alias("arm")
    ).select("jaccard", "arm.*")
    n_true = F.sum((F.col("jaccard") >= SCURVE_TAU).cast("int"))
    caught = F.sum(
        F.when(F.col("jaccard") >= SCURVE_TAU, F.col("p_micro")).otherwise(
            F.lit(0).cast("long")
        )
    )
    missed = F.sum(
        F.when(F.col("jaccard") < SCURVE_TAU, F.col("p_micro")).otherwise(
            F.lit(0).cast("long")
        )
    )
    return g.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        n_true.cast("long").alias("n_true"),
        F.when(
            n_true > 0,
            F.round(caught.cast("double") / n_true / 1e6, 6),
        ).alias("expected_recall"),
        F.round(missed.cast("double") / 1e6, 6).alias("expected_fp_pairs"),
    )


# --------------------------------------------------------------------------
# CCNet-style reference-LM perplexity buckets
# --------------------------------------------------------------------------

CCNET_REF_SOURCES = ("src0", "src1")

_CCNET_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, source, unnest(toks) AS term FROM (
    SELECT doc_id, lang, source, {_TOKENS} AS toks FROM documents)),
ref AS (
  SELECT lang, term, count(*) AS c FROM tok
  WHERE source IN ('src0', 'src1') GROUP BY 1, 2),
refstats AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_total, count(*) AS vocab
  FROM ref GROUP BY 1),
lp AS (
  SELECT t.doc_id, t.lang, t.source,
         CAST(round(ln(CAST(coalesce(r.c, 0) + 1 AS DOUBLE)
              / (coalesce(s.n_total, 0) + coalesce(s.vocab, 0) + 1)) * 1e6)
              AS BIGINT) AS lp_micro
  FROM tok t
  LEFT JOIN ref r ON t.lang = r.lang AND t.term = r.term
  LEFT JOIN refstats s ON t.lang = s.lang),
ds AS (
  SELECT doc_id, lang, source, count(*) AS n_tokens,
         CAST(round(CAST(CAST(sum(lp_micro) AS BIGINT) AS DOUBLE)
                    / count(*)) AS BIGINT) AS lp_mean_micro
  FROM lp GROUP BY 1, 2, 3),
hist AS (
  SELECT lang, lp_mean_micro, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY lang ORDER BY lp_mean_micro)
           AS ci,
         sum(count(*)) OVER (PARTITION BY lang) AS n
  FROM ds GROUP BY 1, 2),
t1 AS (SELECT lang, min(lp_mean_micro) AS t1 FROM hist
       WHERE ci >= (n + 2) // 3 GROUP BY 1),
t2 AS (SELECT lang, min(lp_mean_micro) AS t2 FROM hist
       WHERE ci >= (2 * n + 2) // 3 GROUP BY 1),
b AS (
  SELECT ds.lang, ds.source, lp_mean_micro,
         CASE WHEN lp_mean_micro <= t1.t1 THEN 'tail'
              WHEN lp_mean_micro <= t2.t2 THEN 'middle'
              ELSE 'head' END AS bucket
  FROM ds JOIN t1 USING (lang) JOIN t2 USING (lang))
SELECT lang, source, bucket, count(*) AS n_docs,
  round(CAST(CAST(sum(lp_mean_micro) AS BIGINT) AS DOUBLE)
        / count(*) / 1e6, 6) AS mean_logprob
FROM b GROUP BY 1, 2, 3
"""


def _ccnet_tok(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, term) token table."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(tx.tokens(F.col("text"))).alias("term"),
    )


def _ccnet_ref(tok: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reference-slice LM tables: per-(lang, term) counts and
    per-lang (n_total, vocab)."""
    ref = (
        tok.filter(F.col("source").isin(*CCNET_REF_SOURCES))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    refstats = ref.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    return ref, refstats


def _ccnet_lp_micro(c):
    """Per-token micro-logprob Column given a (nullable) ref count
    column — the ONE expression shape both the batch scorer and the
    streaming artifact trainer compile, so they can never disagree."""
    return (
        round_long(
            F.log(
                (F.coalesce(c, F.lit(0)) + 1).cast("double")
                / (
                    F.coalesce(F.col("n_total"), F.lit(0))
                    + F.coalesce(F.col("vocab"), F.lit(0))
                    + 1
                )
            )
            * 1e6
        )
        .alias("lp_micro")
    )


def _ccnet_ds(docs: DataFrame) -> DataFrame:
    """Per-document mean micro-logprob (doc_id, lang, source,
    lp_mean_micro) against the reference-slice LM."""
    tok = _ccnet_tok(docs)
    ref, refstats = _ccnet_ref(tok)
    scored = (
        tok.join(ref, ["lang", "term"], "left")
        .join(F.broadcast(refstats), ["lang"], "left")
        .select("doc_id", "lang", "source", _ccnet_lp_micro(F.col("c")))
    )
    return (
        scored.groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            "source",
            round_long(F.col("s").cast("double") / F.col("n_tokens"))
            .alias("lp_mean_micro"),
        )
    )


def _ccnet_cuts(ds: DataFrame) -> DataFrame:
    """Per-lang exact tercile cut values (lang, t1, t2) from the
    distinct-value histogram via the bucketed two-pass kernel."""
    hist = ds.groupBy("lang", "lp_mean_micro").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = bucketed_exclusive_cumsums(
        hist, "lp_mean_micro", ["cnt"], group_cols=["lang"]
    )
    tot = hist.groupBy("lang").agg(F.sum("cnt").alias("n"))
    cum = cum.join(F.broadcast(tot), "lang").withColumn(
        "ci", F.col("cum_cnt") + F.col("cnt")
    )
    t1 = (
        cum.filter(F.col("ci") >= F.expr("(n + 2) div 3"))
        .groupBy("lang")
        .agg(F.min("lp_mean_micro").alias("t1"))
    )
    t2 = (
        cum.filter(F.col("ci") >= F.expr("(2 * n + 2) div 3"))
        .groupBy("lang")
        .agg(F.min("lp_mean_micro").alias("t2"))
    )
    return t1.join(t2, "lang")


def ccnet_bucket_expr(lp_col, t1_col, t2_col):
    """Shared bucket rule: tail <= t1 < middle <= t2 < head."""
    return (
        F.when(lp_col <= t1_col, F.lit("tail"))
        .when(lp_col <= t2_col, F.lit("middle"))
        .otherwise(F.lit("head"))
    )


def ccnet_doc_scores_frame(docs: DataFrame) -> DataFrame:
    """Per-document CCNet score + bucket (doc_id, lang, source,
    lp_mean_micro, bucket) — the frame the streaming gate's batch
    twin pins against."""
    ds = _ccnet_ds(docs)
    cuts = _ccnet_cuts(ds)
    b = ds.join(F.broadcast(cuts), "lang")
    return b.select(
        "doc_id",
        "lang",
        "source",
        "lp_mean_micro",
        ccnet_bucket_expr(
            F.col("lp_mean_micro"), F.col("t1"), F.col("t2")
        ).alias("bucket"),
    )


def ccnet_buckets_frame(docs: DataFrame) -> DataFrame:
    """Frame-level CCNet bucketing kernel over a documents DataFrame
    (doc_id, text, lang, source) — the shape
    :func:`ccnet_perplexity_buckets` registers and
    ``tools/scale_exp.py`` measures on replicated frames."""
    return (
        ccnet_doc_scores_frame(docs)
        .groupBy("lang", "source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("lp_mean_micro").cast("double")
                / F.count(F.lit(1))
                / 1e6,
                6,
            ).alias("mean_logprob"),
        )
    )


@register("ccnet_perplexity_buckets", oracle=_CCNET_ORACLE)
def ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): train an
    add-one-smoothed unigram LM per language on a trusted REFERENCE
    slice (sources src0/src1 — CCNet uses Wikipedia), score every
    document's mean token log-probability against it, and cut each
    language at its exact tercile order statistics into head / middle
    / tail. The per-(lang, source, bucket) rollup is the table a
    corpus build reads to decide which source slices survive.

    Differs from ``unigram_logprob`` (self-scored, whole corpus): the
    LM here is trained on the reference slice ONLY and applied
    cross-source — the CCNet signature move. OOV tokens take the
    smoothing floor via a left join (count 0).

    Parity: per-token logprob micro-rounds to BIGINT (the libm rule),
    per-doc mean micro-rounds once, tercile cuts are exact order
    statistics at ceil(n/3)/ceil(2n/3) on the per-lang distinct-value
    histogram — ties share a bucket, so no per-row rank is needed.

    Scale: the LM is vocab-sized per lang (shuffle equi-join on
    (lang, term); stopword heat is AQE skew-join territory, as in
    unigram_logprob); refstats and tercile thresholds are O(langs)
    broadcast dims; the histogram cumsum rides the bucketed two-pass
    kernel — no global sort, no per-row window anywhere."""
    return ccnet_buckets_frame(
        spread(load_table(spark, sf_dir, "documents"))
    )


# --------------------------------------------------------------------------
# MinHash estimator-error audit (signature estimate vs exact Jaccard)
# --------------------------------------------------------------------------

MH_EST_HASHES = 32

_MH_EST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
    FROM toks)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b,
         round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
           AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
        >= {_THR_SQL}),
mh AS (
  SELECT doc_id,
         {", ".join(f"min({seeded_hash60_sql(i, 'shingle')}) AS mh_{i}"
                    for i in range(MH_EST_HASHES))}
  FROM sh GROUP BY 1),
est AS (
  SELECT p.jaccard,
         ({" + ".join(
             f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
             for i in range(MH_EST_HASHES))}) AS n_match
  FROM pairs p
  JOIN mh a ON a.doc_id = p.id_a
  JOIN mh b ON b.doc_id = p.id_b),
e2 AS (
  SELECT CAST(floor(jaccard * 10) AS BIGINT) AS j_decile,
         CAST(round(n_match / {MH_EST_HASHES} * 1e6) AS BIGINT)
           AS est_micro,
         CAST(round(jaccard * 1e6) AS BIGINT) AS j_micro
  FROM est)
SELECT j_decile, count(*) AS n_pairs,
  round(CAST(CAST(sum(est_micro) AS BIGINT) AS DOUBLE)
        / count(*) / 1e6, 6) AS mean_estimate,
  round(CAST(CAST(sum(j_micro) AS BIGINT) AS DOUBLE)
        / count(*) / 1e6, 6) AS mean_exact,
  round(CAST(CAST(sum(abs(est_micro - j_micro)) AS BIGINT) AS DOUBLE)
        / count(*) / 1e6, 6) AS mean_abs_err,
  round(CAST(max(abs(est_micro - j_micro)) AS DOUBLE) / 1e6, 6)
    AS max_abs_err
FROM e2 GROUP BY 1
"""


def minhash_estimator_frame(docs: DataFrame) -> DataFrame:
    """Frame-level estimator-error kernel over a documents DataFrame —
    the shape :func:`minhash_estimator_error` registers and
    ``tools/scale_exp.py`` measures on replicated frames."""
    from dissertation_iceberg_spark.operators.dedup import (
        minhash_signatures,
    )

    pairs = dd.jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=3, threshold=SCURVE_PAIR_THRESHOLD
    ).select("id_a", "id_b", "jaccard")
    sigs = minhash_signatures(
        docs, "text", "doc_id", n=3, num_hashes=MH_EST_HASHES
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MH_EST_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MH_EST_HASHES)],
    )
    n_match = functools.reduce(
        operator.add,
        [
            (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
            for i in range(MH_EST_HASHES)
        ],
    )
    e2 = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.floor(F.col("jaccard") * 10).cast("long").alias("j_decile"),
            round_long(n_match / F.lit(MH_EST_HASHES) * 1e6)
            .alias("est_micro"),
            round_long(F.col("jaccard") * 1e6).alias("j_micro"),
        )
    )
    err = F.abs(F.col("est_micro") - F.col("j_micro"))
    return e2.groupBy("j_decile").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum("est_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_estimate"),
        F.round(
            F.sum("j_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_exact"),
        F.round(
            F.sum(err).cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_abs_err"),
        F.round(F.max(err).cast("double") / 1e6, 6).alias("max_abs_err"),
    )


@register("minhash_estimator_error", oracle=_MH_EST_ORACLE)
def minhash_estimator_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator-quality audit: for every candidate pair with
    exact Jaccard >= 0.05, the 32-hash signature estimate (matching
    components / 32) against the exact value, rolled up by exact-
    similarity decile — mean/max absolute estimation error per band.
    Companion to ``lsh_band_scurve`` (which assumes the estimator is
    unbiased; this measures how noisy it actually is at k=32) and
    ``dedup_eval`` (which grades the banded retrieval, not the
    estimator).

    Parity: signatures are the portable md5-derived 60-bit family
    (exact in both engines); the estimate k/32 is an exact dyadic
    division; both estimate and exact Jaccard micro-round to BIGINT
    before aggregation, so every rollup is exact integer arithmetic.

    Scale: exact pairs ride the posting-list expansion kernel (no
    join operator); signatures are one groupBy over the shingle
    table; attaching them to pairs is two O(pairs) equi-joins on
    doc_id — pair-bounded, never corpus-quadratic. Like the S-curve,
    the tuning report runs on a corpus sample at 100 TB."""
    return minhash_estimator_frame(
        spread(load_table(spark, sf_dir, "documents"))
    )


# --------------------------------------------------------------------------
# DSIR importance resampling (hashed n-gram importance weights)
# --------------------------------------------------------------------------

DSIR_B = 1024  # hashed feature buckets (the artifact's FIXED size)
DSIR_TARGET_SOURCES = ("src0", "src1")  # trusted target domain slice

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKENS} AS t FROM documents),
feats AS (
  SELECT doc_id, source, {hash60_sql('ng')} % {DSIR_B} AS b
  FROM (SELECT doc_id, source,
               unnest(list_concat(t,
                 list_transform(range(1, len(t)),
                                i -> t[i] || ' ' || t[i + 1]))) AS ng
        FROM toks)),
tgt AS (SELECT b, count(*) AS c_t FROM feats
        WHERE source IN {DSIR_TARGET_SOURCES} GROUP BY 1),
rawf AS (SELECT * FROM feats
         WHERE source NOT IN {DSIR_TARGET_SOURCES}),
rawc AS (SELECT b, count(*) AS c_r FROM rawf GROUP BY 1),
nt AS (SELECT coalesce(CAST(sum(c_t) AS BIGINT), 0) AS n_t FROM tgt),
nr AS (SELECT coalesce(CAST(sum(c_r) AS BIGINT), 0) AS n_r FROM rawc),
lr AS (
  SELECT b,
         CAST(round((ln(CAST(coalesce(c_t, 0) + 1 AS DOUBLE)
                        / (n_t + {DSIR_B}))
                     - ln(CAST(c_r + 1 AS DOUBLE) / (n_r + {DSIR_B})))
                    * 1e6) AS BIGINT) AS lr_micro
  FROM rawc LEFT JOIN tgt USING (b) CROSS JOIN nt CROSS JOIN nr),
perdoc AS (
  SELECT doc_id, source, count(*) AS n_feats,
         CAST(sum(lr_micro) AS BIGINT) AS logw_micro,
         CAST(round(CAST(CAST(sum(lr_micro) AS BIGINT) AS DOUBLE)
                    / count(*)) AS BIGINT) AS lr_mean_micro
  FROM rawf JOIN lr USING (b) GROUP BY 1, 2),
hist AS (SELECT lr_mean_micro, count(*) AS cnt FROM perdoc GROUP BY 1),
nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
cum AS (SELECT lr_mean_micro,
               sum(cnt) OVER (ORDER BY lr_mean_micro) AS ci FROM hist),
cut AS (SELECT min(lr_mean_micro) AS t75 FROM cum CROSS JOIN nn
        WHERE ci >= (3 * n + 3) // 4)
SELECT source,
       count(*) AS n_docs,
       round(CAST(CAST(sum(logw_micro) AS BIGINT) AS DOUBLE)
             / count(*) / 1e6, 6) AS mean_logw,
       CAST(sum(CASE WHEN lr_mean_micro > t75 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_selected,
       round(CAST(sum(CASE WHEN lr_mean_micro > t75 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS selected_share
FROM perdoc CROSS JOIN cut GROUP BY source, t75
"""

_DSIR_BIGRAMS = (
    "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
    "ELSE CAST(array() AS array<string>) END"
)


def _dsir_feats(docs: DataFrame) -> DataFrame:
    """(doc_id, source, b) hashed-feature table: unigrams + bigrams of
    whitespace tokens, bucketed into DSIR_B buckets by the portable
    60-bit hash. Bigrams are space-joined, which cannot collide with a
    unigram (tokens are space-split, so no token contains a space)."""
    t = tx.tokens(F.col("text"))
    base = docs.select("doc_id", "source", t.alias("t"))
    ng = F.concat(F.col("t"), F.expr(_DSIR_BIGRAMS))
    f = base.select("doc_id", "source", F.explode(ng).alias("ng"))
    return f.select(
        "doc_id",
        "source",
        (hash60(F.col("ng")) % DSIR_B).alias("b"),
    )


def _dsir_lr_micro(c_t, c_r):
    """Per-bucket micro log-ratio Column given (nullable) target and
    raw count columns — the ONE expression shape the batch scorer, the
    oracle, and the streaming artifact trainer all compile, so they
    can never disagree. Expects ``n_t`` / ``n_r`` scalar columns in
    scope."""
    return (
        round_long(
            (
                F.log(
                    (F.coalesce(c_t, F.lit(0)) + 1).cast("double")
                    / (F.col("n_t") + DSIR_B)
                )
                - F.log(
                    (F.coalesce(c_r, F.lit(0)) + 1).cast("double")
                    / (F.col("n_r") + DSIR_B)
                )
            )
            * 1e6
        )
        .alias("lr_micro")
    )


def _dsir_model(
    feats: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(rawf, lr, nt, nr): the raw-pool feature rows and the
    <= DSIR_B-row log-ratio table fitted from feats, plus the two
    1-row total frames (for the streaming trainer's floor)."""
    is_tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    # ONE bucket-keyed pass fits BOTH distributions (round 8, guide
    # §2.3 "aggregate before you shuffle" / §1.2 "remove passes"):
    # count_if splits target vs raw per bucket. The previous shape ran
    # two separate groupBy(b) aggregations whose lineages each
    # re-tokenized and re-exploded the corpus (the expensive map side
    # lives ABOVE the reusable exchange, so stage reuse cannot help).
    # The bucket row set is restricted to c_r >= 1 — exactly the old
    # rawc-join-tgt row set — and c_t comes out 0 instead of NULL where
    # no target rows hit the bucket, which _dsir_lr_micro's coalesce
    # already normalizes, so lr is value-identical.
    both = feats.groupBy("b").agg(
        F.count_if(is_tgt).alias("c_t"),
        F.count_if(~is_tgt).alias("c_r"),
    )
    rawf = feats.filter(~is_tgt)
    nt = both.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).cast("long").alias("n_t")
    )
    nr = both.agg(
        F.coalesce(F.sum("c_r"), F.lit(0)).cast("long").alias("n_r")
    )
    lr = (
        both.filter(F.col("c_r") >= 1)
        .transform(with_scalars, nt)
        .transform(with_scalars, nr)
        .select("b", _dsir_lr_micro(F.col("c_t"), F.col("c_r")))
    )
    return rawf, lr, nt, nr


def _dsir_perdoc(docs: DataFrame) -> DataFrame:
    """Per-raw-document importance scores (doc_id, source, n_feats,
    logw_micro, lr_mean_micro)."""
    rawf, lr, _, _ = _dsir_model(_dsir_feats(docs))
    return (
        rawf.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lr_micro").cast("long").alias("logw_micro"),
        )
        .withColumn(
            "lr_mean_micro",
            round_long(
                F.col("logw_micro").cast("double") / F.col("n_feats")
            ),
        )
    )


def _dsir_cut(perdoc: DataFrame) -> DataFrame:
    """1-row frame with the exact 75th-percentile selection cut t75
    over the per-doc length-normalized weights."""
    hist = perdoc.groupBy("lr_mean_micro").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = bucketed_exclusive_cumsums(hist, "lr_mean_micro", ["cnt"])
    nn = hist.agg(F.sum("cnt").cast("long").alias("n"))
    return (
        cum.transform(with_scalars, nn)
        .withColumn("ci", F.col("cum_cnt") + F.col("cnt"))
        .filter(F.col("ci") >= F.expr("(3 * n + 3) div 4"))
        .agg(F.min("lr_mean_micro").alias("t75"))
    )


def dsir_doc_scores_frame(docs: DataFrame) -> DataFrame:
    """Per-document DSIR score + selection flag (doc_id, source,
    n_feats, logw_micro, lr_mean_micro, selected) — the frame the
    streaming gate's batch twin pins against."""
    perdoc = _dsir_perdoc(docs).transform(pin)  # see dsir_selection_frame
    return perdoc.transform(with_scalars, _dsir_cut(perdoc)).select(
        "doc_id",
        "source",
        "n_feats",
        "logw_micro",
        "lr_mean_micro",
        (F.col("lr_mean_micro") > F.col("t75"))
        .cast("int")
        .alias("selected"),
    )


def dsir_selection_frame(docs: DataFrame) -> DataFrame:
    """Frame-level DSIR kernel over a documents DataFrame — the shape
    :func:`dsir_importance_resampling` registers and
    ``tools/scale_exp.py`` measures on replicated frames.

    The t75 cut is a scalar whose lineage CONTAINS the full scoring
    pipeline (n-gram explode + hashed-model fits), so without
    materializing perdoc the plan re-runs that pipeline inside the
    scalar subquery and again for the rollup — measured ~3x the
    kernel cost at sf0.1 (round 6). One localCheckpoint of the O(docs)
    narrow per-doc frame replaces two full corpus re-scans — the
    cheaper trade at any scale."""
    perdoc = _dsir_perdoc(docs).transform(pin)
    cut = _dsir_cut(perdoc)
    sel = (F.col("lr_mean_micro") > F.col("t75")).cast("int")
    return (
        perdoc.transform(with_scalars, cut)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("logw_micro").cast("double")
                / F.count(F.lit(1))
                / 1e6,
                6,
            ).alias("mean_logw"),
            F.sum(sel).cast("long").alias("n_selected"),
            F.round(
                F.sum(sel).cast("double") / F.count(F.lit(1)), 6
            ).alias("selected_share"),
        )
    )


@register("dsir_importance_resampling", oracle=_DSIR_ORACLE)
def dsir_importance_resampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): fit
    bag-of-hashed-ngram (unigram + bigram) models on a trusted TARGET
    slice (sources src0/src1) and on the raw pool, score every raw
    document's importance log-weight sum(ln p_target(b) - ln p_raw(b))
    over its hashed features, and select the top quarter by
    length-normalized weight (strictly above the exact 75th-percentile
    order statistic). Per-source rollup: document count, mean log
    importance weight, and how many docs survive selection — the
    report that says WHICH sources the target-matched corpus will
    actually draw from.

    Differs from ``ccnet_perplexity_buckets`` (one generative LM,
    vocab-sized, absolute quality terciles): DSIR is a RATIO of two
    distributions over a FIXED hashed feature space — the artifact is
    exactly DSIR_B=1024 log-ratios no matter how large the vocabulary
    grows, which is the move that makes the scorer a broadcast literal
    at 100 TB (CCNet's LM grows with vocab; DSIR's cannot).

    Parity: bucket ids ride the portable 60-bit md5 hash mod 1024;
    each bucket's log-ratio micro-rounds to BIGINT once (libm rule),
    so per-doc sums are exact integer arithmetic; the selection cut is
    an exact order statistic from the distinct-value histogram via the
    bucketed two-pass cumsum kernel — no global sort.

    Scale: the n-gram explode is map-side; both distribution fits ride
    ONE map-side-combinable count_if pass into <= 1024 buckets (a
    near-empty shuffle); the scorer joins fact-scale features to the
    1024-row broadcast table; per-doc reduction is one doc-keyed exact
    integer sum that rides the doc_id-keyed spread below (round 8 —
    the parallelism-restoring repartition hashes on doc_id, so the
    explode/broadcast-join chain preserves it and the per-doc
    aggregation needs no exchange of the O(features) frame). Nothing
    data-scaled is ever collected, sorted globally, or joined
    fact-to-fact."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_selection_frame(
        docs.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
    )
