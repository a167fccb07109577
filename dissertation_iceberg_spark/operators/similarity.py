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


def vec_norm(a: Column) -> Column:
    """Euclidean norm of an array column (double-cast elements)."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(
    a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None
) -> Column:
    """Exact cosine of two array columns, UNROUNDED: dot / (|a|·|b|)
    over element-wise double casts, summed positionally — the op shape
    every DuckDB oracle replays. Callers round (6 dp, or micro-units)
    before ranking. ``norm_a``/``norm_b`` take a :func:`vec_norm`
    computed once per row in an earlier projection, so a pair join
    pays only the dot fold per pair (same value, bit for bit)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = vec_norm(a) if norm_a is None else norm_a
    nb = vec_norm(b) if norm_b is None else norm_b
    return dot / (na * nb)


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


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

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
    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        vec_norm(F.col(vec_col)).alias("__nq"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        vec_norm(F.col(vec_col)).alias("__nv"),
    )
    pairs = c.alias("c").join(F.broadcast(q), F.col("qid") != F.col(id_col))
    scored = pairs.select(
        "qid",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine(F.col("qvec"), F.col(vec_col), F.col("__nq"), F.col("__nv")),
            6,
        ).alias("cosine"),
    )
    return topk_per_query(scored, k)


def lsh_plane_weights(tbl: int, plane: int, dim: int, seed: int = 42) -> list[int]:
    """Deterministic integer hyperplane: weight d = md5-derived hash of
    ``'{seed}:{tbl}:{plane}:{d}'`` mapped to [-1000, 1000]. Integer
    weights (not gauss floats) make the projection EXACT integer
    arithmetic once the vector is micro-quantized — the bucket sign can
    never flip on a float half-ulp, in either engine. Uniform signs are
    all sign-LSH needs; the magnitude distribution only perturbs recall
    marginally vs gaussian planes (pinned by test_lsh_ann_recall)."""
    from dissertation_iceberg_spark.functions.hashing import hash60_py

    return [
        hash60_py(f"{seed}:{tbl}:{plane}:{d}") % 2001 - 1000 for d in range(dim)
    ]


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 1,
) -> DataFrame:
    """Sign-of-projection LSH bucket ids per vector (scale path for ANN).

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
        arr = ",".join(str(w) for w in lsh_plane_weights(t, p, dim, seed))
        return (
            f"aggregate(zip_with({vec_col}, array({arr}), "
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
        F.col(id_col), F.col(vec_col), F.explode(F.array(*rows)).alias("tb")
    ).select(id_col, vec_col, "tb.tbl", "tb.bucket")


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

    def __init__(self, lists: DataFrame, cent_df: DataFrame, id_col: str, vec_col: str):
        self.lists = lists  # (id_col, vec_col, list_id)
        self.cent_df = cent_df  # (list_id, pos, s, n)
        self.id_col = id_col
        self.vec_col = vec_col

    def save(self, path: str) -> None:
        self.lists.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{path}/lists"
        )
        self.cent_df.write.mode("overwrite").parquet(f"{path}/centroids")

    @staticmethod
    def load(spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        return IVFIndex(
            spark.read.parquet(f"{path}/lists"),
            spark.read.parquet(f"{path}/centroids"),
            id_col,
            vec_col,
        )


def _lloyd_dist(xe: DataFrame, cent: DataFrame) -> DataFrame:
    """Quantized squared distance of every (``__id``, pos, x) vector to
    every centroid (the kmeans_cluster_stats recipe,
    queries/extensions.py): centroids ride as un-normalized
    (list_id, pos, s, n) integer sums, the distance numerator
    sum((x*n - s)^2) is an exact int, and num/n^2 is one
    correctly-rounded double op — so any ranking by (dist, list_id) is
    identical in Spark and DuckDB at any parallelism."""
    e = F.col("x") * F.col("n") - F.col("s")
    d = (
        xe.join(F.broadcast(cent), "pos")
        .select("__id", "list_id", "n", e.alias("e"))
        .groupBy("__id", "list_id", "n")
        .agg(F.sum(F.col("e") * F.col("e")).alias("num"))
    )
    dist = (F.col("num").cast("double") / (F.col("n") * F.col("n"))).alias(
        "dist"
    )
    return d.select("__id", dist, "list_id")


def _lloyd_assign(xe: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment pass: each vector's nearest centroid,
    tie-broken by list_id."""
    return (
        _lloyd_dist(xe, cent)
        .groupBy("__id")
        .agg(F.min(F.struct("dist", "list_id")).alias("m"))
        .select("__id", F.col("m.list_id").alias("list_id"))
    )


def build_ivf_index_exact(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    scale: int = 10_000,
) -> IVFIndex:
    """Deterministic IVF build: 2 integer-quantized Lloyd iterations
    seeded from the first ``n_lists`` ids — bit-reproducible on any
    cluster size AND replayable in plain SQL, which is what lets the
    registered ivf_ann_topk query carry a DuckDB oracle. This is the
    only IVF build: a float k-means (MLlib's k-means|| init) is not
    cross-engine reproducible.

    The returned index stores centroids as un-normalized integer
    (list_id, pos, s, n) component sums — never floats — so a saved
    index reloads bit-identically. Scale shape per iteration: one
    broadcast join + one int-sum shuffle keyed on (list_id, pos),
    identical to kmeans_cluster_stats."""
    qv = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    base = corpus.select(F.col(id_col).alias("__id"), qv.alias("qv"))
    xe = base.select("__id", F.posexplode("qv").alias("pos", "x"))
    seeds = (
        base.orderBy("__id")
        .limit(n_lists)
        .select(
            (F.row_number().over(Window.orderBy("__id")) - 1).alias("list_id"),
            "qv",
        )
    )
    c0 = seeds.select(
        "list_id", F.posexplode("qv").alias("pos", "s")
    ).withColumn("n", F.lit(1).cast("long"))
    a1 = _lloyd_assign(xe, c0)
    c1 = (
        a1.join(xe, "__id")
        .groupBy("list_id", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    a2 = _lloyd_assign(xe, c1)
    c2 = (
        a2.join(xe, "__id")
        .groupBy("list_id", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    lists = corpus.join(
        a2.select(F.col("__id").alias(id_col), "list_id"), id_col
    ).select(id_col, vec_col, "list_id")
    return IVFIndex(lists, c2, id_col, vec_col)


def ivf_search_exact(
    index: IVFIndex,
    queries: DataFrame,
    query_id_col: str = "query_id",
    k: int = 3,
    n_probe: int = 4,
    scale: int = 10_000,
) -> DataFrame:
    """Probe an exact-build IVF index: quantized integer distance to
    the (s, n) centroids picks each query's ``n_probe`` lists (same
    exact argmin arithmetic as the build), then the probed lists
    rerank with the standard exact cosine (double casts, 6dp round,
    neighbor-id tiebreak). Self-matches are excluded."""
    id_col, vec_col = index.id_col, index.vec_col
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    qxe = q.select(
        F.col("qid").alias("__id"),
        F.posexplode(
            F.transform(
                F.col("qvec"),
                lambda x: F.round(x.cast("double") * scale).cast("long"),
            )
        ).alias("pos", "x"),
    )
    d = _lloyd_dist(qxe, index.cent_df).withColumnRenamed("__id", "qid")
    probes = topk_per_query(d, n_probe, F.asc("dist"), F.asc("list_id"))
    probes = probes.select("qid", "list_id").join(q, "qid")
    pairs = index.lists.join(F.broadcast(probes), "list_id").where(
        F.col("qid") != F.col(id_col)
    )
    scored = pairs.select(
        "qid",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qvec"), F.col(vec_col)), 6).alias("cosine"),
    )
    return topk_per_query(scored, k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
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
    cb = hyperplane_lsh_buckets(
        corpus, vec_col, id_col, num_planes, dim, num_tables=num_tables
    )
    qb = hyperplane_lsh_buckets(
        queries.select(F.col(query_id_col).alias("vec_id"), F.col(vec_col)),
        vec_col,
        "vec_id",
        num_planes,
        dim,
        num_tables=num_tables,
    ).select(F.col("vec_id").alias("qid"), "tbl", "bucket")
    cand = (
        cb.select(id_col, "tbl", "bucket")
        .join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("qid") != F.col(id_col))
        .select("qid", id_col)
        .distinct()
    )
    qv = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        vec_norm(F.col(vec_col)).alias("__nq"),
    )
    cv = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        vec_norm(F.col(vec_col)).alias("__nv"),
    )
    scored = (
        cand.join(cv, id_col)
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine(
                    F.col("qvec"), F.col(vec_col), F.col("__nq"), F.col("__nv")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return topk_per_query(scored, k)
