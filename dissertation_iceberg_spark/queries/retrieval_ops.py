"""Retrieval post-processing: MMR (maximal marginal relevance)
diversified re-ranking — the standard redundancy-removal step between
a similarity search (cosine_topk / lsh_ann_topk / ivf_ann_topk /
rrf_fusion, all registered) and what a RAG-style consumer actually
reads. Greedy selection is inherently sequential, but each round
touches only the O(pool) candidate set: the pool is collected into one
row and the rounds run as one array fold inside the plan, while the
DuckDB oracle replays the same rounds as unrolled CTEs.

Parity: relevance and candidate-pick cosines are rounded to 6 dp
(operators.similarity.cosine, the kernel behind cosine_topk —
element-wise double casts, identical op shape); the MMR score
0.7·rel − 0.3·maxsim is IEEE arithmetic on those rounded inputs, and
every round's argmax is taken under a total order (score desc, vec_id
asc), so it matches bit-for-bit whatever order the pool was collected
in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.operators.similarity import cosine
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register

_MMR_QUERY_ID = 0  # the query vector
_MMR_POOL = 20  # relevance-ranked candidate pool size
_MMR_K = 5  # results to select
_MMR_LAMBDA = 0.7  # relevance weight (1-lambda on redundancy)

_COS_SQL = """
  round(
    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT unnest({a}) AS x, unnest({b}) AS y) z)
    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
             FROM (SELECT unnest({a}) AS x) z))
       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
               FROM (SELECT unnest({b}) AS y) z))), 6)
"""


def _mmr_round_sql(k: int) -> str:
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    return f"""
cand{k} AS (
  SELECT p.vec_id, p.rel FROM pool p
  WHERE p.vec_id NOT IN (SELECT vec_id FROM selall{k - 1})),
ms{k} AS (
  SELECT c.vec_id, c.rel, max(s.sim) AS msim
  FROM cand{k} c
  JOIN sims s ON s.a = c.vec_id
  JOIN selall{k - 1} x ON s.b = x.vec_id
  GROUP BY 1, 2),
pick{k} AS (
  SELECT CAST({k} AS BIGINT) AS rank, vec_id, rel, msim,
         round({lam} * rel - {mu} * msim, 6) AS score
  FROM ms{k}
  ORDER BY {lam} * rel - {mu} * msim DESC, vec_id ASC LIMIT 1),
selall{k} AS (
  SELECT vec_id FROM selall{k - 1} UNION ALL SELECT vec_id FROM pick{k})"""


_MMR_ORACLE = (
    f"""
WITH q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}),
scored AS (
  SELECT e.vec_id, {_COS_SQL.format(a="q.qvec", b="e.embedding")} AS rel
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {_MMR_QUERY_ID}),
pool AS (
  SELECT vec_id, rel,
         row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
  FROM scored QUALIFY rn <= {_MMR_POOL}),
sims AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         {_COS_SQL.format(a="ea.embedding", b="eb.embedding")} AS sim
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id),
pick1 AS (
  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
         CAST(0.0 AS DOUBLE) AS msim,
         round({_MMR_LAMBDA} * rel, 6) AS score
  FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1),
selall1 AS (SELECT vec_id FROM pick1),"""
    + ",".join(_mmr_round_sql(k) for k in range(2, _MMR_K + 1))
    + """
SELECT * FROM pick1"""
    + "".join(f" UNION ALL SELECT * FROM pick{k}" for k in range(2, _MMR_K + 1))
)


def _argmax(arr: Column, key) -> Column:
    """The element of ``arr`` with the largest ``key(element)``, ties
    to the smallest ``vec_id``: array_max compares (key, -vec_id) in
    Spark's sort order, the same order as ``ORDER BY key DESC, vec_id
    ASC`` (NaN above every number). NULL when ``arr`` is empty."""
    return F.array_max(
        F.transform(
            arr,
            lambda x: F.struct(
                key(x).alias("k"), (-x["vec_id"]).alias("i"), x.alias("x")
            ),
        )
    )["x"]


def _mmr(c: Column) -> Column:
    """λ·rel − (1−λ)·msim, unrounded: the order key of every round."""
    return F.lit(_MMR_LAMBDA) * c["rel"] - F.lit(1.0 - _MMR_LAMBDA) * c["msim"]


def _pick(rank: Column, c: Column) -> Column:
    """One pick of the fold: an output row plus the embedding that
    later rounds' msim needs."""
    return F.struct(
        rank.cast("long").alias("rank"),
        c["vec_id"].alias("vec_id"),
        c["rel"].alias("rel"),
        c["msim"].alias("msim"),
        F.round(_mmr(c), 6).alias("score"),
        c["embedding"].alias("embedding"),
    )


@register("mmr_rerank", oracle=_MMR_ORACLE)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking: from the top-{pool} cosine
    candidates for one query vector, greedily select {k} results
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected
    (λ={lam}) — the dedup-at-read-time step that keeps a retrieval
    answer from returning {k} near-copies of the same document.

    Scale shape: ONE corpus pass scores relevance (the same broadcast
    kernel as cosine_topk — the registered ANN paths substitute at
    bulk scale) and keeps the top-{pool} pool, collected into one row.
    Pick 1 is the most relevant candidate (msim 0); rounds 2..{k} are
    one ``aggregate(sequence(2, k), array(pick1), step)`` fold whose
    state is the array of picks: each step drops the picked ids, sets
    msim to the max 6-dp cosine against the picks so far and appends
    the argmax of λ·rel − (1−λ)·msim. So the query is one plan: no
    job runs while it is built, and the state is O(pool·k) whatever
    the corpus size.
    """.format(pool=_MMR_POOL, k=_MMR_K, lam=_MMR_LAMBDA)
    raw = load_table(spark, sf_dir, "embeddings")
    q = raw.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        spread(raw)
        .filter(F.col("vec_id") != _MMR_QUERY_ID)
        .transform(with_scalars, q)
        .select(
            "vec_id",
            F.round(cosine(F.col("qvec"), F.col("embedding")), 6).alias("rel"),
            F.lit(0.0).alias("msim"),
            "embedding",
        )
    )
    pool = F.col("pool")
    # every pick is built whole before its argmax, and each argmax is
    # used once: reading fields off a shared argmax Column would repeat
    # the whole round in the plan once per field
    pick1 = _argmax(
        F.transform(pool, lambda c: _pick(F.lit(1), c)), lambda p: p["rel"]
    )

    def step(picks: Column, rank: Column) -> Column:
        def msim(c: Column) -> Column:
            return F.array_max(
                F.transform(
                    picks,
                    lambda p: F.round(cosine(c["embedding"], p["embedding"]), 6),
                )
            )

        cands = F.filter(
            pool,
            lambda c: ~F.exists(picks, lambda p: p["vec_id"] == c["vec_id"]),
        )
        sims = F.transform(cands, lambda c: c.withField("msim", msim(c)))
        best = _argmax(F.transform(sims, lambda c: _pick(rank, c)), _mmr)
        return F.concat(picks, F.array(best))

    picks = F.aggregate(F.sequence(F.lit(2), F.lit(_MMR_K)), F.array(pick1), step)
    return (
        scored.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .agg(F.collect_list(F.struct(*scored.columns)).alias("pool"))
        # a pool smaller than k runs out of candidates: its later
        # rounds pick NULL and are sliced off
        .select(F.explode(F.slice(picks, 1, F.size(pool))).alias("p"))
        .select("p.rank", "p.vec_id", "p.rel", "p.msim", "p.score")
    )
