"""Similarity search over embedding columns (engine extension).

- the exact cosine kernel (:func:`cosine`) and the per-query top-k
  rank (:func:`topk_per_query`): the ONE definition of the dot/norm
  folds and of the rank-by-qid tail, shared by every brute-force and
  rerank arm in the registry.
- brute-force cosine top-k: query set × corpus with JVM-side
  higher-order functions (zip_with + aggregate) — the correctness
  baseline, broadcast the (small) query side.
- LSH-bucketed variant (scale path): random-hyperplane signs bucket
  vectors; candidates only within a bucket. Hyperplanes are a tiny
  literal array (deterministic seed), applied JVM-side.
- the exact integer Lloyd kernel (:func:`quantize`,
  :func:`seed_centroids`, :func:`lloyd_num`, :func:`lloyd_argmin`,
  :func:`lloyd_recenter`, composed by :func:`lloyd2`): the ONE
  definition of each Lloyd step, behind IVF, k-means, SemDeDup, ARI,
  PQ and the label-centroid audits.
- IVF (scale path): a deterministic integer-quantized Lloyd build
  (:func:`build_ivf_index_exact`) and its probe
  (:func:`ivf_search_exact`) — the only IVF operator; it is
  bit-reproducible across engines, so the registered ivf_ann_topk
  carries a DuckDB oracle.

Float32 inputs are cast element-wise to double BEFORE multiplication in
both engines so the oracle's positional-sum matches bit-for-bit; final
scores rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from dissertation_iceberg_spark.functions.exact import round_long


def vec_norm(a: Column) -> Column:
    """Euclidean norm of an array column (double-cast elements)."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Exact cosine of two array columns, UNROUNDED: dot / (|a|·|b|)
    over element-wise double casts, summed positionally — the op shape
    every DuckDB oracle replays. Callers round (6 dp, or micro-units)
    before ranking. ``norm_a``/``norm_b`` are the :func:`vec_norm` of
    ``a`` and ``b``: a pair join computes them once per row in an
    earlier projection, so each pair pays only the dot fold (same
    value, bit for bit); a one-sided caller passes ``vec_norm(col)``."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (norm_a * norm_b)


def int_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two integer array columns (the
    quantized-vector kernel: no float op, order-free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def topk_per_query(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Keep each ``qid``'s first ``k`` rows under ``order``, numbered
    1..k in ``rnk``. The default order is the round-then-rank recipe:
    ``cosine`` descending, ``neighbor_id`` ascending as the tiebreak."""
    order = order or (F.desc("cosine"), F.asc("neighbor_id"))
    w = Window.partitionBy("qid").orderBy(*order)
    return df.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors per query vector: corpus
    (vec_id, embedding), queries (query_id, embedding).

    ORACLE BASELINE — cap the query-set size. The plan is a
    BroadcastNestedLoopJoin scoring O(|corpus| × |queries|) pairs: one
    corpus pass, fine for recall grading and small ad-hoc lookups, a
    deliberate scale-killer for bulk search (at 100 TB × 10k queries
    this query IS the bottleneck). Bulk paths: `lsh_cosine_topk`
    (hyperplane LSH, OR-amplified) or `build_ivf_index_exact` +
    `ivf_search_exact` (inverted lists, probe cost ≈ n_probe/n_lists
    of the corpus).

    Round 9 (guide §1.2 "per-task work"): the per-vector norms are
    computed ONCE per row before the pair join — sqrt(norm2(·)) is an
    interpreted higher-order fold, and evaluating it per PAIR charged
    O(|corpus| × |queries|) folds for values that only vary per row.
    The cosine expression value is bit-identical (same ops, evaluated
    in an earlier projection); only the dot product remains per-pair.
    """
    q = _query_side(queries)
    c = _corpus_side(corpus)
    pairs = c.alias("c").join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
    return topk_per_query(_scored(pairs), k)


def _query_side(queries: DataFrame) -> DataFrame:
    """(qid, qvec, __nq): each query vector with its norm, computed
    once per row before any pair join."""
    return queries.select(
        F.col("query_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        vec_norm(F.col("embedding")).alias("__nq"),
    )


def _corpus_side(corpus: DataFrame) -> DataFrame:
    """(vec_id, embedding, __nv): each corpus vector with its norm."""
    return corpus.select(
        "vec_id", "embedding", vec_norm(F.col("embedding")).alias("__nv")
    )


def _scored(pairs: DataFrame) -> DataFrame:
    """(qid, neighbor_id, cosine) of (query, corpus) pairs: the exact
    cosine, rounded to 6 dp."""
    return pairs.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            cosine(F.col("qvec"), F.col("embedding"), F.col("__nq"), F.col("__nv")),
            6,
        ).alias("cosine"),
    )


def lsh_plane_weights(tbl: int, plane: int, dim: int) -> list[int]:
    """Deterministic integer hyperplane: weight d = md5-derived hash of
    ``'42:{tbl}:{plane}:{d}'`` mapped to [-1000, 1000]. Integer
    weights (not gauss floats) make the projection EXACT integer
    arithmetic once the vector is micro-quantized — the bucket sign can
    never flip on a float half-ulp, in either engine. Uniform signs are
    all sign-LSH needs; the magnitude distribution only perturbs recall
    marginally vs gaussian planes (pinned by test_lsh_ann_recall)."""
    from dissertation_iceberg_spark.functions.hashing import hash60_py

    return [
        hash60_py(f"42:{tbl}:{plane}:{d}") % 2001 - 1000 for d in range(dim)
    ]


def hyperplane_lsh_buckets(
    df: DataFrame, num_planes: int, num_tables: int
) -> DataFrame:
    """Sign-of-projection LSH bucket ids per 64-dim (vec_id, embedding)
    vector (scale path for ANN).

    ``num_tables`` independent hash tables (OR-amplification): a
    candidate pair needs to collide in ANY table, trading extra
    (cheap, equi-join) candidates for recall — the standard knob when
    single-table sign-LSH recall is too low. Hyperplanes are
    deterministic tiny integer literals (:func:`lsh_plane_weights`);
    the projection Σ round(x·1e6)·w is an exact BIGINT fold, so bucket
    ids are bit-reproducible across engines and the DuckDB oracle can
    replay them. Output: one row per (vector, table).
    """
    # Round 9 (guide §1.2/§4): the bucket expressions are built as ONE
    # SQL string per table and parsed server-side with F.expr — the
    # previous Column-by-Column construction issued ~2 py4j round trips
    # per plane weight (num_tables × num_planes × dim ≈ 2048 F.lit
    # calls at the registered 8×4×64 shape), which made DataFrame
    # CONSTRUCTION the dominant cost of every LSH query (~7 s of
    # lsh_ann_topk's 8.8 s at sf0.1 was driver-side build, exec was
    # 1.3 s). The parsed expression tree is term-for-term the same
    # (same zip_with/aggregate fold, same casts, same init), so bucket
    # ids — and the DuckDB oracle replay — are unchanged.
    def proj_sql(t: int, p: int) -> str:
        arr = ",".join(str(w) for w in lsh_plane_weights(t, p, 64))
        return (
            f"aggregate(zip_with(embedding, array({arr}), "
            "(x, w) -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) * w), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    rows = []
    for t in range(num_tables):
        bucket = " + ".join(
            f"(CASE WHEN {proj_sql(t, i)} > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(num_planes)
        )
        rows.append(
            F.struct(
                F.lit(t).alias("tbl"),
                F.expr(f"CAST(0 AS BIGINT) + {bucket}").alias("bucket"),
            )
        )
    return df.select(
        "vec_id", "embedding", F.explode(F.array(*rows)).alias("tb")
    ).select("vec_id", "embedding", "tb.tbl", "tb.bucket")


# --------------------------------------------------------------------------
# The exact integer Lloyd kernel: the ONE definition of quantization,
# first-k seeding, the distance numerator, the argmin and recentering,
# shared by the IVF build/probe, k-means (kmeans_cluster_stats,
# semdedup_prune, ari_kmeans_vs_labels), product quantization and the
# label-centroid audits. Vectors ride long-form (..., pos, x) on the
# integer grid; centroids ride as un-normalized (..., pos, s, n)
# integer sums — never floats — so every step is exact integer
# arithmetic plus one correctly-rounded double division, and each
# DuckDB oracle replays it bit for bit at any parallelism.
# --------------------------------------------------------------------------

QSCALE = 10_000  # quantization grid: |x| <= 0.53 -> |xq| <= 5300


def quantize(x: Column) -> Column:
    """One component on the integer 1e-4 grid: round(x * QSCALE) as
    BIGINT over a double cast (the oracles' CAST(round(...) AS BIGINT))."""
    return round_long(x.cast("double") * QSCALE)


def seed_centroids(
    base: DataFrame, k: int, cluster: str, id_col: str = "vec_id"
) -> DataFrame:
    """First-k-by-id seeding: the ``k`` lowest-``id_col`` rows of
    ``base`` (which carries the quantized ``qv`` array) as unit-count
    centroids (cluster, pos, s, n=1), numbered 0..k-1 by id —
    TakeOrderedAndProject, never a global window over the corpus."""
    seeds = (
        base.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias(cluster), "qv"
        )
    )
    return seeds.select(cluster, F.posexplode("qv").alias("pos", "s")).withColumn(
        "n", F.lit(1).cast("long")
    )


def lloyd_num(
    xe: DataFrame, cent: DataFrame, by: list[str], keys: tuple[str, ...] = ()
) -> DataFrame:
    """Quantized squared distance of every vector to every centroid:
    ``xe ⋈ broadcast(cent)`` on ``keys`` + pos, then
    num = Σ (x·n − s)² per (``by``, ``keys``, n) and dist = num / n².

    ``by`` names the vector id and the centroid id; ``keys`` are the
    columns both sides share (PQ's subspace ``sub``, or a label when
    each vector meets only its own centroid). num accumulates as
    decimal(38,0): each squared term is still a BIGINT (it needs
    |x·n − s| < 3.03e9), but their sum grows with list size n and
    overflows int64 on large lists (DuckDB sums BIGINT into HUGEINT,
    so the oracles agree). dist is one
    correctly-rounded double op, so any ranking by (dist, cluster) is
    identical in Spark and DuckDB."""
    e = F.col("x") * F.col("n") - F.col("s")
    return (
        xe.join(F.broadcast(cent), [*keys, "pos"])
        .groupBy(*by, *keys, "n")
        .agg(F.sum((e * e).cast("decimal(38,0)")).alias("num"))
        .withColumn("dist", F.col("num").cast("double") / (F.col("n") * F.col("n")))
    )


def lloyd_argmin(d: DataFrame, ids: list[str], cluster: str) -> DataFrame:
    """Nearest centroid per ``ids`` row of a :func:`lloyd_num` frame:
    min(struct(dist, cluster, n, num)), so ties go to the lower
    cluster id. (dist, cluster) is unique per row, so n and num ride
    along without changing the pick. Output: ids, cluster, n, num."""
    m = F.min(F.struct("dist", cluster, "n", "num")).alias("m")
    return d.groupBy(*ids).agg(m).select(*ids, f"m.{cluster}", "m.n", "m.num")


def lloyd_recenter(
    assigned: DataFrame, cluster: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """New centroids from long-form assigned vectors: (``keys``,
    cluster, pos) -> s = Σ x, n = count, the un-normalized integer
    form :func:`lloyd_num` consumes."""
    return assigned.groupBy(*keys, cluster, "pos").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )


def lloyd2(
    xe: DataFrame,
    c0: DataFrame,
    id_col: str,
    cluster: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Two exact Lloyd passes from the centroids ``c0``: assign,
    recenter, assign. Returns the final assignment (id_col, keys,
    cluster, n, num). Each pass is one broadcast join + one int-sum
    shuffle keyed on (cluster, pos)."""
    ids = [id_col, *keys]
    a1 = lloyd_argmin(lloyd_num(xe, c0, [id_col, cluster], keys), ids, cluster)
    c1 = lloyd_recenter(a1.select(*ids, cluster).join(xe, ids), cluster, keys)
    return lloyd_argmin(lloyd_num(xe, c1, [id_col, cluster], keys), ids, cluster)


class IVFIndex:
    """Persistable IVF index from :func:`build_ivf_index_exact`:
    inverted lists (corpus bucketed by nearest centroid) + the tiny
    centroid table, held as integer component sums.

    At 100 TB the index is built ONCE (two integer Lloyd passes),
    written partitioned by ``list_id``, and every subsequent query
    batch probes it with :func:`ivf_search_exact` without refitting —
    probe reads prune to n_probe/n_lists of the corpus via partition
    pruning.
    """

    def __init__(self, lists: DataFrame, cent_df: DataFrame):
        self.lists = lists  # (vec_id, embedding, list_id)
        self.cent_df = cent_df  # (list_id, pos, s, n)

    def save(self, path: str) -> None:
        self.lists.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{path}/lists"
        )
        self.cent_df.write.mode("overwrite").parquet(f"{path}/centroids")

    @staticmethod
    def load(spark, path: str):
        return IVFIndex(
            spark.read.parquet(f"{path}/lists"),
            spark.read.parquet(f"{path}/centroids"),
        )


def build_ivf_index_exact(corpus: DataFrame, n_lists: int = 16) -> IVFIndex:
    """Deterministic IVF build over (vec_id, embedding): 2
    integer-quantized Lloyd iterations (:func:`lloyd2`) seeded from
    the first ``n_lists`` ids — bit-reproducible on any cluster size
    AND replayable in plain SQL, which is what lets the registered
    ivf_ann_topk query carry a DuckDB oracle. This is the only IVF
    build: a float k-means (MLlib's k-means|| init) is not
    cross-engine reproducible.

    The returned index stores centroids as un-normalized integer
    (list_id, pos, s, n) component sums — never floats — so a saved
    index reloads bit-identically. Scale shape per iteration: one
    broadcast join + one int-sum shuffle keyed on (list_id, pos),
    identical to kmeans_cluster_stats."""
    base = corpus.select(
        F.col("vec_id").alias("__id"),
        F.transform(F.col("embedding"), quantize).alias("qv"),
    )
    xe = base.select("__id", F.posexplode("qv").alias("pos", "x"))
    a2 = lloyd2(xe, seed_centroids(base, n_lists, "list_id", "__id"), "__id", "list_id")
    c2 = lloyd_recenter(a2.select("__id", "list_id").join(xe, "__id"), "list_id")
    lists = corpus.join(
        a2.select(F.col("__id").alias("vec_id"), "list_id"), "vec_id"
    ).select("vec_id", "embedding", "list_id")
    return IVFIndex(lists, c2)


def ivf_search_exact(
    index: IVFIndex, queries: DataFrame, k: int = 3, n_probe: int = 4
) -> DataFrame:
    """Probe an exact-build IVF index: the Lloyd distance
    (:func:`lloyd_num`) to the (s, n) centroids picks each query's
    ``n_probe`` lists, ties to the lower list_id (same exact
    arithmetic as the build), then the probed lists rerank with the
    standard exact cosine (double casts, 6dp round, neighbor-id
    tiebreak). Self-matches are excluded."""
    q = _query_side(queries)
    qxe = q.select(
        "qid", F.posexplode(F.transform("qvec", quantize)).alias("pos", "x")
    )
    d = lloyd_num(qxe, index.cent_df, ["qid", "list_id"])
    probes = topk_per_query(d, n_probe, F.asc("dist"), F.asc("list_id"))
    probes = probes.select("qid", "list_id").join(q, "qid")
    lists = index.lists.withColumn("__nv", vec_norm(F.col("embedding")))
    pairs = lists.join(F.broadcast(probes), "list_id").where(
        F.col("qid") != F.col("vec_id")
    )
    return topk_per_query(_scored(pairs), k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """ANN: candidates restricted to vectors sharing the query's bucket
    in at least one hash table, then exact cosine + top-k. Recall < 1
    by construction; the scale win is that the join key is
    (table, bucket) — an equi-join the planner can shuffle-partition —
    instead of a cross product.

    Round 9 (guide §2.3 "shuffle keys and metadata instead of
    payloads"): the multi-table dedup used to run ``.distinct()`` over
    rows CARRYING BOTH 64-dim vectors — every duplicate candidate
    shipped ~1 KB of payload through the exchange and hashed/compared
    arrays in the aggregate. Now the distinct runs on the bare
    (qid, neighbor_id) pair and the vectors (plus once-per-row norms,
    the cosine_topk §1.2 fix) re-attach afterwards: queries by
    broadcast, corpus by one narrow equi-join. Same candidate set,
    same 6-dp cosines, same ranks."""
    cb = hyperplane_lsh_buckets(corpus, num_planes, num_tables)
    qb = hyperplane_lsh_buckets(
        queries.select(F.col("query_id").alias("vec_id"), "embedding"),
        num_planes,
        num_tables,
    ).select(F.col("vec_id").alias("qid"), "tbl", "bucket")
    cand = (
        cb.select("vec_id", "tbl", "bucket")
        .join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id")
        .distinct()
    )
    qv = _query_side(queries)
    pairs = cand.join(_corpus_side(corpus), "vec_id").join(F.broadcast(qv), "qid")
    return topk_per_query(_scored(pairs), k)
