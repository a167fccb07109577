"""Retrieval post-processing: MMR (maximal marginal relevance)
diversified re-ranking — the standard redundancy-removal step between
a similarity search (cosine_topk / lsh_ann_topk / ivf_ann_topk /
rrf_fusion, all registered) and what a RAG-style consumer actually
reads. Greedy selection is inherently sequential, but each round
touches only the O(pool) candidate frame, so like the other
run-parity iterative kernels (kmeans, BPE, gbm_stumps) the rounds are
unrolled and the DuckDB oracle replays them exactly.

Parity: relevance and candidate-pair cosines are rounded to 6 dp once
(operators.similarity.cosine, the kernel behind cosine_topk —
element-wise double casts, identical op shape); the MMR score
0.7·rel − 0.3·maxsim is IEEE arithmetic on those rounded inputs with a
vec_id tiebreak, so every round's argmax matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.operators.similarity import cosine
from dissertation_iceberg_spark.functions.scalars import (
    with_scalars,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin

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


@register("mmr_rerank", oracle=_MMR_ORACLE)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking: from the top-{pool} cosine
    candidates for one query vector, greedily select {k} results
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected
    (λ={lam}) — the dedup-at-read-time step that keeps a retrieval
    answer from returning {k} near-copies of the same document.

    Scale shape: ONE corpus pass scores relevance (the same broadcast
    kernel as cosine_topk — the registered ANN paths substitute at
    bulk scale); everything after runs on the O(pool²) = {pool}×{pool}
    pair frame and {k} unrolled greedy rounds over O(pool) rows —
    bounded state regardless of corpus size. Determinism: rel/sim
    rounded to 6 dp once, score tiebreak by vec_id, so the oracle's
    unrolled-CTE replay matches every round exactly.
    """.format(pool=_MMR_POOL, k=_MMR_K, lam=_MMR_LAMBDA)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .transform(with_scalars, q)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("qvec"), F.col("embedding")), 6).alias("rel"),
        )
    )
    # Round 9 (§5): the pool is referenced by EVERY unrolled greedy
    # round, directly and through the nested sel/pick lineages — and
    # its lineage is the full corpus-scoring scan (interpreted cosine
    # folds) behind a TakeOrdered. Unpinned, the final unioned plan
    # carried 924 Exchange references and re-derived the corpus scan
    # per reference (~8.6 s at sf0.1 for a 20-row pool). One pin of the
    # O(pool) frame collapses every downstream round to tiny local
    # frames; the corpus is scanned exactly once.
    pool = pin(scored.orderBy(F.desc("rel"), F.asc("vec_id")).limit(_MMR_POOL))
    pa = pool.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va")
    )
    pb = pool.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb")
    )
    # sims is likewise referenced by every greedy round — even over the
    # pinned pool, each reference re-planned and re-ran the O(pool²)
    # non-equi join (the after-plan still carried 400 Exchange refs
    # with only the pool pinned). A second pin of the O(pool²)=380-row
    # frame makes every round a join of two tiny checkpoint scans.
    sims = pin(
        pa.join(pb, F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
    )
    pool_slim = pool.select("vec_id", "rel")
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    pick = (
        pool_slim.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            "vec_id",
            "rel",
            F.lit(0.0).alias("msim"),
            F.round(F.lit(lam) * F.col("rel"), 6).alias("score"),
        )
    )
    # each pick is itself pinned (a 1-row job per round): pick_k's
    # lineage nests every earlier round through sel, so even over
    # pinned pool/sims the unioned final plan re-planned and re-ran
    # the whole greedy recursion per reference (320 Exchange refs with
    # only pool+sims pinned; 24 after)
    pick = pin(pick)
    out = pick
    sel = pick.select("vec_id")
    for k in range(2, _MMR_K + 1):
        cand = pool_slim.join(sel, "vec_id", "left_anti")
        ms = (
            cand.join(sims, cand["vec_id"] == sims["a"])
            .join(sel.select(F.col("vec_id").alias("b_sel")),
                  F.col("b") == F.col("b_sel"))
            .groupBy(cand["vec_id"].alias("vec_id"), "rel")
            .agg(F.max("sim").alias("msim"))
        )
        pick = (
            ms.orderBy(
                F.desc(F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("msim")),
                F.asc("vec_id"),
            )
            .limit(1)
            .select(
                F.lit(k).cast("long").alias("rank"),
                "vec_id",
                "rel",
                "msim",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("msim"), 6
                ).alias("score"),
            )
        )
        pick = pin(pick)
        out = out.unionByName(pick)
        sel = sel.unionByName(pick.select("vec_id"))
    return out
