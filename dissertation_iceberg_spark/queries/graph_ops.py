"""Graph analytics (round 3): PageRank over the part↔supplier
co-purchase graph — the iterative-join workload class (alongside the
existing connected components in operators/dedup.py) expressed so the
fixpoint arithmetic is EXACTLY replayable in DuckDB.

Determinism recipe (same as the k-means query): ranks live as integer
micro-units; each contribution is floor-division by degree and each
damping update is integer multiply-divide — no float ever enters the
iteration, so any parallelism, any engine, any shuffle order produces
bit-identical ranks, and the oracle just unrolls the same iterations
as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.scalars import (
    bcast_params,
    with_scalars,
)
from dissertation_iceberg_spark.operators.regression import (
    moment_sums,
    scaled_comoment,
)
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import r6

_PR_ITERS = 3
_PR_TOPK = 30
_SCALE = 1_000_000  # rank micro-units
_DAMP_NUM, _DAMP_DEN = 85, 100  # 0.85 damping as a ratio
_BASE = 150_000  # (1 - d) * scale

# part nodes = 2k, supplier nodes = 2k+1 (disjoint id spaces)
_EDGES_SQL = """
SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
UNION ALL
SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem
"""


def _part_supplier_edges(li: DataFrame) -> DataFrame:
    """The undirected part↔supplier edge list (src, dst) of
    ``_EDGES_SQL``: each distinct (part, supplier) pair of ``li``, once
    in each direction."""
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.dst AS node,
         CAST({_BASE} + ({_DAMP_NUM} *
              CAST(sum({prev}.r // deg.d) AS BIGINT)) // {_DAMP_DEN}
              AS BIGINT) AS r
  FROM edges e
  JOIN {prev} ON e.src = {prev}.node
  JOIN deg ON deg.src = e.src
  GROUP BY 1)"""


_PAGERANK_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
r0 AS (SELECT src AS node, CAST({_SCALE} AS BIGINT) AS r FROM deg),
{",".join(_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))}
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       r AS rank_micro
FROM r{_PR_ITERS}
ORDER BY r DESC, node ASC
LIMIT {_PR_TOPK}
"""


@register("pagerank_top_nodes", oracle=_PAGERANK_ORACLE)
def pagerank_top_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations, integer micro-unit arithmetic)
    over the undirected part↔supplier bipartite graph from lineitem;
    top-30 nodes by rank. Suppliers of many distinct parts and parts
    with many suppliers surface first — the centrality signal a
    sourcing/dedup pipeline uses to find hub entities.

    Scale shape per iteration: one equi-join of the edge list against
    the O(nodes) rank frame + one map-side-combinable sum by
    destination — the canonical distributed PageRank step (edges never
    move; only O(nodes) rank rows shuffle). Degrees are joined on the
    same src key (co-partitioned with the rank join). The undirected
    construction has no dangling nodes, so no rank mass correction
    term is needed. Final top-k compiles to TakeOrderedAndProject.
    Iteration count is fixed (not convergence-tested) precisely so the
    oracle can unroll it."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _part_supplier_edges(li)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("r DIV d").alias("c"))
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(_BASE)
                + F.expr(f"({_DAMP_NUM} * sum(c)) DIV {_DAMP_DEN}")
            )
            .cast("long")
            .alias("r")
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_PR_TOPK)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").alias("node_key"),
            F.col("r").alias("rank_micro"),
        )
    )


# --------------------------------------------------------------------------
# Triangle counting + clustering coefficient on the strong co-purchase graph
# --------------------------------------------------------------------------

_TRI_MIN_WEIGHT = 2  # strong edges: parts co-purchased in >= 2 orders


def _strong_copurchase_edges(li: DataFrame) -> DataFrame:
    """Strong co-purchase edges (pa, pb), pa < pb: part pairs bought
    together in at least ``_TRI_MIN_WEIGHT`` distinct orders."""
    assoc = li.select("l_orderkey", "l_partkey").distinct()
    b = assoc.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb")
    )
    return (
        assoc.join(
            b,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_partkey") < F.col("pb")),
        )
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _TRI_MIN_WEIGHT)
        .select("pa", "pb")
    )


_TRI_ORACLE = f"""
WITH assoc AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_WEIGHT}),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY 1),
wedges AS (
  SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
         count(*) AS n_nodes FROM deg),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.pb = e2.pa
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       w.n_nodes,
       w.n_wedges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       round(CASE WHEN w.n_wedges > 0
                  THEN 3.0 * t.n_triangles / w.n_wedges ELSE 0.0 END, 6)
         AS clustering_coeff
FROM wedges w CROSS JOIN tri t
"""


@register("triangle_count", oracle=_TRI_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the strong
    co-purchase graph (parts co-bought in >= {w} orders) — the classic
    distributed-graph motif kernel: how often do two co-purchase
    partners also co-purchase with each other.

    Scale shape: the graph is built by the co-purchase collapse (pair
    volume linear for bounded baskets — measured in SCALE.md), THEN
    thresholded to strong edges, so the motif joins run on the pruned
    edge list, not the raw pairs. Triangle enumeration uses the
    oriented-edge trick: with every edge stored low-id < high-id, the
    wedge join (e1.pb = e2.pa) generates each candidate path once and
    the closing-edge join counts each triangle EXACTLY once — no /6
    dedup, no symmetric blow-up. The wedge join's skew axis is the
    max strong-degree hub; at 100 TB the standard mitigation is
    degree-ordered orientation (point each edge from lower- to
    higher-degree endpoint, capping wedge fan-out at sqrt(edges)) —
    the id orientation here keeps the oracle trivially identical.
    Wedge totals come from the degree frame (O(nodes)); the final
    report is one row.""".format(w=_TRI_MIN_WEIGHT)
    li = load_table(spark, sf_dir, "lineitem")
    edges = _strong_copurchase_edges(li)
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    e2 = edges.select(F.col("pa").alias("qa"), F.col("pb").alias("qb"))
    e3 = edges.select(F.col("pa").alias("ra"), F.col("pb").alias("rb"))
    tri = (
        edges.join(e2, F.col("pb") == F.col("qa"))
        .join(e3, (F.col("ra") == F.col("pa")) & (F.col("rb") == F.col("qb")), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.transform(with_scalars, wedges)
        .transform(with_scalars, tri)
        .select(
            "n_edges",
            "n_nodes",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# Degree-ordered triangle counting: the skew-proof orientation
# --------------------------------------------------------------------------

_TRI_DEG_ORACLE = f"""
WITH assoc AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_WEIGHT}),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY 1),
oriented AS (
  SELECT CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pa ELSE e.pb END AS src,
         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pb ELSE e.pa END AS dst,
         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN db.d ELSE da.d END AS ddst
  FROM edges e
  JOIN deg da ON da.node = e.pa
  JOIN deg db ON db.node = e.pb),
outdeg AS (
  SELECT src, count(*) AS od FROM oriented GROUP BY 1),
tri AS (
  SELECT count(*) AS n_triangles
  FROM oriented o1
  JOIN oriented o2
    ON o1.src = o2.src AND (o1.ddst, o1.dst) < (o2.ddst, o2.dst)
  WHERE EXISTS (
    SELECT 1 FROM oriented c
    WHERE c.src = o1.dst AND c.dst = o2.dst))
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT max(d) FROM deg) AS max_degree,
       (SELECT max(od) FROM outdeg) AS max_out_degree,
       CAST(t.n_triangles AS BIGINT) AS n_triangles
FROM tri t
"""


@register("triangle_count_oriented", oracle=_TRI_DEG_ORACLE)
def triangle_count_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting — the at-scale variant of
    triangle_count. Each strong edge points from its lower-(degree,
    id) endpoint to the higher one, so every wedge is generated at its
    LOWEST-degree apex: per-node fan-out is capped at O(sqrt(edges))
    regardless of hub degree (a celebrity node with degree 10^6
    generates zero wedges as apex — its neighbors, each of far lower
    degree, generate them instead). The id-only orientation in
    triangle_count is the oracle-trivial baseline; this is the one
    you run on 100 TB. Both must return the same n_triangles — pinned
    in tests/test_properties.py.

    The wedge pair-ordering and the closing-edge lookup both follow
    the SAME (degree, id) total order, so each triangle is counted
    exactly once, from its unique lowest-apex wedge. max_out_degree
    vs max_degree in the output row is the measured skew cap."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _strong_copurchase_edges(li)
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("na"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("nb"), F.col("d").alias("db"))
    a_first = F.struct(F.col("da"), F.col("pa")) < F.struct(
        F.col("db"), F.col("pb")
    )
    oriented = (
        edges.join(da, F.col("pa") == F.col("na"))
        .join(db, F.col("pb") == F.col("nb"))
        .select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
        )
    )
    outdeg = oriented.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    o2 = oriented.select(
        F.col("src").alias("s2"), F.col("dst").alias("d2"), F.col("ddst").alias("dd2")
    )
    closing = oriented.select(
        F.col("src").alias("cs"), F.col("dst").alias("cd")
    )
    tri = (
        oriented.join(o2, F.col("src") == F.col("s2"))
        .filter(
            F.struct(F.col("ddst"), F.col("dst"))
            < F.struct(F.col("dd2"), F.col("d2"))
        )
        .join(
            closing,
            (F.col("cs") == F.col("dst")) & (F.col("cd") == F.col("d2")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    summary = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    dmax = deg.agg(F.max("d").alias("max_degree"))
    omax = outdeg.agg(F.max("od").alias("max_out_degree"))
    return (
        summary.transform(with_scalars, dmax)
        .transform(with_scalars, omax)
        .transform(with_scalars, tri)
        .select(
            "n_edges",
            "max_degree",
            "max_out_degree",
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


# --------------------------------------------------------------------------
# Multi-source BFS: hop distances over the bipartite co-purchase graph
# --------------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_SEED_MOD = 100  # seeds: part nodes with l_partkey % 100 == 0


def _bfs_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1 AS dist
    FROM edges e JOIN {prev} p ON e.src = p.node)
  GROUP BY 1)"""


_BFS_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
d0 AS (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
  FROM edges WHERE src % 2 = 0 AND (src // 2) % {_BFS_SEED_MOD} = 0),
{",".join(_bfs_iter_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_HOPS))}
SELECT dist, count(*) AS n_nodes,
       CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_parts,
       CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM d{_BFS_HOPS} GROUP BY 1
"""


@register("bfs_reachability", oracle=_BFS_ORACLE)
def bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from the seed set (every 100th
    part) over the undirected part-supplier graph, {h} iterations —
    the reachability/impact-radius kernel (recall cascades, supplier
    blast-radius) and, with PageRank and connected components, the
    third iterative-join workload class.

    Determinism: distances are small exact integers and each
    iteration is frontier-join + min — associative, replayed verbatim
    by the oracle's unrolled CTEs. Scale shape per hop: one equi-join
    of the edge list against the O(reached) distance frame + one
    map-side-combinable min by node; edges never move partitions
    across iterations (same join key each hop — AQE reuses the
    exchange). The output is the O(hops) distance histogram split by
    node type.""".format(h=_BFS_HOPS)
    li = load_table(spark, sf_dir, "lineitem")
    edges = _part_supplier_edges(li)
    dist = (
        edges.select("src")
        .distinct()
        .filter(
            (F.col("src") % 2 == 0)
            & (F.expr("(src div 2)") % _BFS_SEED_MOD == 0)
        )
        .select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(_BFS_HOPS):
        grown = edges.join(dist, edges["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(grown)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_parts"),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    )


# --------------------------------------------------------------------------
# k-core decomposition: iterative peeling trace on the strong graph
# --------------------------------------------------------------------------

_KCORE_K = 6
_KCORE_PEELS = 4


def _kcore_peel_sql(prev: str, out: str) -> str:
    return f"""
k{out} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS d FROM (
      SELECT pa AS node FROM {prev} UNION ALL SELECT pb AS node FROM {prev}) u
    GROUP BY 1) dd WHERE d >= {_KCORE_K}),
{out} AS MATERIALIZED (
  SELECT e.pa, e.pb FROM {prev} e
  JOIN k{out} x ON e.pa = x.node
  JOIN k{out} y ON e.pb = y.node)"""


def _kcore_stats_sql(i: int) -> str:
    return f"""SELECT {i} AS peel,
       CAST((SELECT count(*) FROM e{i}) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM
             (SELECT pa AS node FROM e{i} UNION SELECT pb FROM e{i}) nn)
            AS BIGINT) AS n_nodes"""


_KCORE_ORACLE = f"""
WITH assoc AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM assoc a JOIN assoc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_WEIGHT}),
{",".join(_kcore_peel_sql(f"e{i}", f"e{i + 1}") for i in range(_KCORE_PEELS))}
{" UNION ALL ".join(_kcore_stats_sql(i) for i in range(_KCORE_PEELS + 1))}
"""


@register("kcore_decomposition", oracle=_KCORE_ORACLE)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling on the strong
    co-purchase graph (same edges as triangle_count): repeatedly drop
    nodes with degree < {k} and the edges they carry. Output is the
    peeling TRACE — (peel, n_edges, n_nodes) after each of {r} rounds
    — the convergence audit that tells an entity-graph pipeline how
    deep the cohesive core is and whether more peels are needed
    (trace flat ⇒ fixpoint reached). The {k}-core is the standard
    "dense cohort" extractor before community detection and a spam/
    bot-ring signal in co-occurrence graphs.

    Determinism: peeling is pure integer degree arithmetic — no
    floats, no tie-breaks (a node is in or out), so any engine and
    any parallelism reach the same edge set; the oracle unrolls the
    same {r} peels as CTEs. Fixed peel count (not while-loop
    convergence) precisely so the oracle can unroll it.

    Scale shape per peel: one map-side-combinable degree count over
    the live edge list + two semi-joins (edges ⋉ surviving nodes on
    each endpoint) — edges shuffle on their endpoint keys, the
    surviving-node frame is O(nodes). Per-peel stats are tiny
    aggregates unioned at the end; nothing sorts.""".format(
        k=_KCORE_K, r=_KCORE_PEELS
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = _strong_copurchase_edges(li)

    def stats(e: DataFrame, i: int) -> DataFrame:
        nodes = e.select(F.col("pa").alias("node")).union(
            e.select(F.col("pb").alias("node"))
        ).distinct()
        return e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).join(
            nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        ).select(F.lit(i).alias("peel"), "n_edges", "n_nodes")

    # Eager pin per level, not lazy persist (round 8): the final plan
    # unions ten stats branches over five edge generations, and lazily
    # cached levels are populated mid-job by whichever branch gets
    # there first — concurrent stages duplicate the upstream peel
    # chains before the cache fills (sweep: 33-37 s at sf0.1 for a
    # ~127k-edge graph; ~3 s pinned). Each level is an O(edges) narrow
    # frame, the same write budget the persists already claimed.
    edges = pin(edges)
    out = [stats(edges, 0)]
    cur = edges
    for i in range(1, _KCORE_PEELS + 1):
        deg = (
            cur.select(F.col("pa").alias("node"))
            .union(cur.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        cur = pin(
            cur.join(keep.withColumnRenamed("node", "pa"), "pa", "left_semi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "left_semi")
            .select("pa", "pb")
        )
        out.append(stats(cur, i))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


# --------------------------------------------------------------------------
# Personalized PageRank from a brand seed set (related-entity discovery)
# --------------------------------------------------------------------------

_PPR_BRAND = "Brand#13"
_PPR_ITERS = 3
_PPR_TOPK = 30


def _ppr_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, CAST(sum(r) AS BIGINT) AS r FROM (
    SELECT e.dst AS node,
           ({_DAMP_NUM} * CAST(sum({prev}.r // deg.d) AS BIGINT))
             // {_DAMP_DEN} AS r
    FROM edges e
    JOIN {prev} ON e.src = {prev}.node
    JOIN deg ON deg.src = e.src
    GROUP BY 1
    UNION ALL
    SELECT node, r FROM q) GROUP BY 1)"""


_PPR_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
seeds AS (
  SELECT p_partkey * 2 AS node FROM part WHERE p_brand = '{_PPR_BRAND}'),
ns AS (SELECT count(*) AS n_seeds FROM seeds),
q AS (
  SELECT node,
    CAST((({_DAMP_DEN} - {_DAMP_NUM}) * ({_SCALE} // n_seeds))
         // {_DAMP_DEN} AS BIGINT) AS r
  FROM seeds CROSS JOIN ns),
r0 AS (SELECT node, CAST({_SCALE} // n_seeds AS BIGINT) AS r
       FROM seeds CROSS JOIN ns),
{",".join(_ppr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PPR_ITERS))}
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       r AS rank_micro
FROM r{_PPR_ITERS}
ORDER BY r DESC, node ASC
LIMIT {_PPR_TOPK}
"""


@register("personalized_pagerank", oracle=_PPR_ORACLE)
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on one brand's parts: the restart
    mass teleports only to the seed set (r = (1−d)·q + d·P·r), so high
    ranks mean "close to {brand} in the co-purchase graph" — the
    related-entity / recommendation primitive, versus the global
    centrality of `pagerank_top_nodes`.

    Scale shape: identical per-iteration join (edges never move; the
    rank frontier is SPARSE — only nodes reached within k hops of the
    seeds carry rank, so early iterations shuffle far fewer rows than
    the global variant). Same integer determinism recipe: micro-unit
    ranks, floor divisions, damping as an integer ratio; the oracle
    unrolls the iterations with the seed restart as a UNION ALL
    branch.""".format(brand=_PPR_BRAND)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    edges = _part_supplier_edges(li)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    seeds = part.filter(F.col("p_brand") == _PPR_BRAND).select(
        (F.col("p_partkey") * 2).alias("node")
    )
    ns = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    q = seeds.transform(bcast_params, ns).select(
        "node",
        F.expr(
            f"(({_DAMP_DEN} - {_DAMP_NUM}) * ({_SCALE} DIV n_seeds))"
            f" DIV {_DAMP_DEN}"
        )
        .cast("long")
        .alias("r"),
    )
    ranks = seeds.transform(bcast_params, ns).select(
        "node", F.expr(f"{_SCALE} DIV n_seeds").cast("long").alias("r")
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("r DIV d").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(f"({_DAMP_NUM} * sum(c)) DIV {_DAMP_DEN}")
                .cast("long")
                .alias("r")
            )
        )
        ranks = (
            contrib.unionByName(q)
            .groupBy("node")
            .agg(F.sum("r").cast("long").alias("r"))
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_PPR_TOPK)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").alias("node_key"),
            F.col("r").alias("rank_micro"),
        )
    )


# --------------------------------------------------------------------------
# Degree assortativity of the part-supplier graph
# --------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
pairs AS (
  SELECT da.d AS dx, db.d AS dy
  FROM edges e
  JOIN deg da ON e.src = da.src
  JOIN deg db ON e.dst = db.src),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM pairs),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(d) AS BIGINT) AS deg_total FROM deg)
SELECT s.m AS n_directed_edges, nn.n_nodes,
       CAST(round((CAST(nn.deg_total AS DOUBLE) / nn.n_nodes) * 1e6)
            AS BIGINT) / 1e6 AS mean_degree,
       CAST(round((
         (CAST(s.m AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
         / sqrt((CAST(s.m AS DOUBLE) * s.sxx - CAST(s.sx AS DOUBLE) * s.sx)
                * (CAST(s.m AS DOUBLE) * s.syy
                   - CAST(s.sy AS DOUBLE) * s.sy))
       ) * 1e6) AS BIGINT) / 1e6 AS assortativity
FROM s CROSS JOIN nn
"""


@register("degree_assortativity", oracle=_ASSORT_ORACLE)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman r) of the undirected
    part-supplier bipartite graph: the Pearson correlation of endpoint
    degrees over the directed edge list — negative r is the hub-spoke
    signature (high-degree parts attach to low-degree suppliers),
    positive r a core-periphery one. Completes the graph-health
    battery (pagerank / triangles / k-core / components) with the
    mixing-structure statistic; on a data-lineage or user-interaction
    graph this is the skew early-warning for joins (assortative hubs
    concentrate shuffle keys).

    Scale shape: one distinct-edge build, a degree count, and two
    degree equi-joins back onto the edge list (fanout 1 each), then a
    single 6-counter global reduce — all map-side combinable, nothing
    driver-side.

    Parity: degrees and all five moment sums are exact BIGINT; r is
    one identical double expression, 6-dp integer-rounded."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _part_supplier_edges(li)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    pairs = (
        edges.join(deg.select("src", F.col("d").alias("dx")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select("dx", "dy")
    )
    s = pairs.agg(*moment_sums(F.col("dx"), F.col("dy")))
    nn = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("deg_total"),
    )
    num = scaled_comoment("n", "sxy", "sx", "sy")
    den = F.sqrt(
        scaled_comoment("n", "sxx", "sx", "sx")
        * scaled_comoment("n", "syy", "sy", "sy")
    )
    return s.transform(with_scalars, nn).select(
        F.col("n").alias("n_directed_edges"),
        "n_nodes",
        (
            r6(F.col("deg_total").cast("double") / F.col("n_nodes"))
        ).alias("mean_degree"),
        r6(num / den).alias(
            "assortativity"
        ),
    )


# --------------------------------------------------------------------------
# Label-propagation communities (synchronous, mode-of-neighbors, round 3)
# --------------------------------------------------------------------------

_LPA_ITERS = 3
# argmax encoding: key = n * 1e12 - label  =>  max key picks the most
# frequent neighbor label, smallest label on ties (memory: max_by needs
# a SCALAR key cross-engine).  Valid while n < 9.2e6 and label < 1e12.
_LPA_KEY = 1_000_000_000_000


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, max_by(lab, n * {_LPA_KEY} - lab) AS lab FROM (
    SELECT e.dst AS node, p.lab AS lab, count(*) AS n
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY 1, 2)
  GROUP BY 1)"""


_LPA_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS lab FROM nodes),
{",".join(_lpa_iter_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ITERS))}
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       CAST(lab AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
FROM l{_LPA_ITERS}
"""


@register("label_propagation_communities", oracle=_LPA_ORACLE)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation on the
    part-supplier co-purchase graph ({_LPA_ITERS} fixed iterations):
    every node starts as its own label; each round it adopts the most
    frequent label among its neighbors, smallest label on ties.  The
    deterministic sibling of classic async LPA (async is
    order-dependent and unreproducible across partitionings) — same
    edge frame as pagerank_top_nodes, complementary output (dense
    regions vs important nodes).

    Cross-engine determinism: the mode-with-tiebreak is one
    ``max_by(label, n * 1e12 - label)`` — an exact integer argmax, no
    floats anywhere, so iteration N is bit-equal in both engines and
    the fixed iteration count makes the whole run reproducible.

    Scale shape: per iteration one O(edges) equi-join (labels are
    O(nodes), join key is the src node — co-partitionable across
    iterations) and one map-side-combinable (node, label) count; no
    per-node fan-in beyond degree.  This is the textbook Pregel step
    expressed as joins; 100 TB runs raise iterations, not state size.
    """
    edges = _part_supplier_edges(
        spread(load_table(spark, sf_dir, "lineitem"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(_LPA_ITERS):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n2"), "lab")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = votes.groupBy(F.col("n2").alias("node")).agg(
            F.max_by("lab", F.col("n") * _LPA_KEY - F.col("lab")).alias("lab")
        )
    w = Window.partitionBy("lab")
    return labels.select(
        F.when(F.col("node") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        (F.col("node") / 2).cast("long").alias("node_key"),
        F.col("lab").cast("long").alias("community"),
        F.count(F.lit(1)).over(w).cast("long").alias("community_size"),
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities over the customer -> supplier purchase graph
# --------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_TOPK = 20

_HITS_EDGES_SQL = """
SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _hits_iter_sql(h_prev: str, a_out: str, h_out: str) -> str:
    return f"""
{a_out}r AS (
  SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
  FROM edges JOIN {h_prev} ON src = {h_prev}.node GROUP BY 1),
{a_out} AS (
  SELECT node, a * {_SCALE} // (SELECT max(a) FROM {a_out}r) AS a
  FROM {a_out}r),
{h_out}r AS (
  SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
  FROM edges JOIN {a_out} ON dst = {a_out}.node GROUP BY 1),
{h_out} AS (
  SELECT node, h * {_SCALE} // (SELECT max(h) FROM {h_out}r) AS h
  FROM {h_out}r)"""


_HITS_ORACLE = f"""
WITH edges AS ({_HITS_EDGES_SQL}),
h0 AS (SELECT DISTINCT src AS node, CAST({_SCALE} AS BIGINT) AS h
       FROM edges),
{",".join(_hits_iter_sql(f"h{i}", f"a{i + 1}", f"h{i + 1}")
          for i in range(_HITS_ITERS))}
SELECT side, node_key, score_micro, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT 'authority' AS side, node AS node_key, a AS score_micro,
         row_number() OVER (ORDER BY sm DESC, node) AS rnk
  FROM (SELECT node, a, a AS sm FROM a{_HITS_ITERS}
        ORDER BY a DESC, node LIMIT {_HITS_TOPK})
  UNION ALL
  SELECT 'hub', node, h, row_number() OVER (ORDER BY sm DESC, node)
  FROM (SELECT node, h, h AS sm FROM h{_HITS_ITERS}
        ORDER BY h DESC, node LIMIT {_HITS_TOPK}))
"""


@register("hits_scores", oracle=_HITS_ORACLE)
def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities over the directed
    customer→supplier purchase graph: 2 mutual-reinforcement
    iterations, top-20 per side — hubs are customers whose baskets
    concentrate on authoritative suppliers, authorities are suppliers
    bought by the strongest hubs (the bipartite centrality pair
    PageRank's single score can't separate).

    Scale shape per half-iteration: one equi-join of the edge list
    against the O(nodes) score frame + one map-side-combinable sum by
    the opposite endpoint — edges never move. Normalization is a 1-row
    broadcast max (allowlisted BNLJ) instead of an L2 norm so the
    state stays integer. Each side's top-k is orderBy().limit()
    (TakeOrderedAndProject); the rank window covers only the k kept
    rows.

    Determinism (pagerank_top_nodes recipe): scores live as micro-unit
    BIGINTs, each normalization is integer multiply-floor-divide, the
    iteration count is fixed so the oracle unrolls it as CTEs, and
    node id breaks all ordering ties."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    hubs = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("h")
    )
    auths = None
    for _ in range(_HITS_ITERS):
        a_raw = (
            edges.join(hubs, edges["src"] == hubs["node"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.sum("h").cast("long").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("a_mx"))
        auths = a_raw.transform(bcast_params, a_max).select(
            "node", F.expr(f"(a * {_SCALE}) DIV a_mx").alias("a")
        )
        h_raw = (
            edges.join(auths, edges["dst"] == auths["node"])
            .groupBy(edges["src"].alias("node"))
            .agg(F.sum("a").cast("long").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("h_mx"))
        hubs = h_raw.transform(bcast_params, h_max).select(
            "node", F.expr(f"(h * {_SCALE}) DIV h_mx").alias("h")
        )
    w = Window.orderBy(F.desc("score_micro"), F.asc("node_key"))
    top_a = (
        auths.orderBy(F.desc("a"), F.asc("node"))
        .limit(_HITS_TOPK)
        .select(
            F.lit("authority").alias("side"),
            F.col("node").alias("node_key"),
            F.col("a").alias("score_micro"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )
    top_h = (
        hubs.orderBy(F.desc("h"), F.asc("node"))
        .limit(_HITS_TOPK)
        .select(
            F.lit("hub").alias("side"),
            F.col("node").alias("node_key"),
            F.col("h").alias("score_micro"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )
    return top_a.unionByName(top_h)


# --------------------------------------------------------------------------
# Butterfly (bipartite 4-cycle) counting on the order-part graph
# --------------------------------------------------------------------------

_BFLY_ORACLE = """
WITH edges AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
odeg AS (SELECT o, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
wedges AS (
  SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM odeg),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_both
  FROM edges a JOIN edges b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2),
bf AS (
  SELECT CAST(sum(n_both * (n_both - 1) / 2) AS BIGINT) AS n_butterflies,
         CAST(count(*) AS BIGINT) AS n_part_pairs
  FROM pairs),
sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(DISTINCT o) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT p) AS BIGINT) AS n_parts
  FROM edges)
SELECT s.n_edges, s.n_orders, s.n_parts, w.n_wedges,
       b.n_part_pairs, b.n_butterflies,
       round(CASE WHEN b.n_part_pairs > 0
             THEN CAST(b.n_butterflies AS DOUBLE) / b.n_part_pairs END, 6)
         AS butterflies_per_pair
FROM sizes s CROSS JOIN wedges w CROSS JOIN bf b
"""


@register("butterfly_count", oracle=_BFLY_ORACLE)
def butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (bipartite 4-cycle) count on the order⇄part graph:
    two orders sharing TWO parts form a butterfly — the bipartite
    clustering primitive (cohesion of co-purchase structure) beneath
    triangle counting's unipartite world, computed as Σ C(co-order
    count, 2) over part pairs; order-side wedges ΣC(deg,2) ride along
    as the density denominator.

    Scale shape: reuses the co-purchase pair expansion (measured
    LINEAR 1×/10×/100× in SCALE.md — basket sizes bound the per-order
    fan-out), then two exact-BIGINT reduces; no new join shape. The
    skew guard is the same as copurchase_lift: per-order C(k,2) pairs
    with bounded basket size k.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    odeg = edges.groupBy("o").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wedges = odeg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    b = edges.select(F.col("o").alias("o2"), F.col("p").alias("pb"))
    pairs = (
        edges.join(b, (F.col("o") == F.col("o2")) & (F.col("p") < F.col("pb")))
        .groupBy(F.col("p").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    bf = pairs.agg(
        F.sum(F.col("n_both") * (F.col("n_both") - 1) / 2)
        .cast("long")
        .alias("n_butterflies"),
        F.count(F.lit(1)).cast("long").alias("n_part_pairs"),
    )
    sizes = edges.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.countDistinct("o").cast("long").alias("n_orders"),
        F.countDistinct("p").cast("long").alias("n_parts"),
    )
    return (
        sizes.transform(with_scalars, wedges)
        .transform(with_scalars, bf)
        .select(
            "n_edges",
            "n_orders",
            "n_parts",
            "n_wedges",
            "n_part_pairs",
            "n_butterflies",
            F.round(
                F.when(
                    F.col("n_part_pairs") > 0,
                    F.col("n_butterflies").cast("double")
                    / F.col("n_part_pairs"),
                ),
                6,
            ).alias("butterflies_per_pair"),
        )
    )


# --------------------------------------------------------------------------
# Modularity of the brand partition on the co-purchase graph
# --------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
lbl AS (SELECT p_partkey, p_brand FROM part),
el AS (
  SELECT la.p_brand AS ba, lb.p_brand AS bb
  FROM edges e
  JOIN lbl la ON la.p_partkey = e.pa
  JOIN lbl lb ON lb.p_partkey = e.pb),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
within AS (
  SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_in
  FROM el WHERE ba = bb GROUP BY 1),
deg AS (
  SELECT brand, CAST(sum(d) AS BIGINT) AS d_c FROM (
    SELECT ba AS brand, CAST(count(*) AS BIGINT) AS d FROM el GROUP BY 1
    UNION ALL
    SELECT bb AS brand, CAST(count(*) AS BIGINT) AS d FROM el GROUP BY 1
  ) u GROUP BY 1),
terms AS (
  SELECT d.brand, coalesce(w.e_in, 0) AS e_in, d.d_c, m.m,
    -- 4m^2 * term = 4m*e_in - d_c^2, exact BIGINT
    4 * m.m * coalesce(w.e_in, 0) - d.d_c * d.d_c AS num
  FROM deg d LEFT JOIN within w ON d.brand = w.brand CROSS JOIN m)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
  CAST(any_value(m) AS BIGINT) AS n_edges,
  CAST(sum(e_in) AS BIGINT) AS n_within_edges,
  round(CAST(sum(num) AS DOUBLE)
        / (4.0 * any_value(m) * any_value(m)), 6) AS modularity
FROM terms
"""


@register("community_modularity", oracle=_MODULARITY_ORACLE)
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition on the co-purchase
    part graph: Q = Σ_c [e_c/m − (d_c/2m)²] — does shopping cluster
    within brands more than a degree-preserving random graph would? —
    the partition-quality readout that grades any community labeling
    (here the catalog's own brands; the same kernel grades
    label_propagation_communities' output).

    Determinism and scale: the edge list is the measured-linear
    co-purchase pair expansion reduced to distinct pairs; within-
    community counts and degree sums are exact BIGINT aggregates on
    the O(brands) frame, and Q's numerator is the exact integer
    Σ(4m·e_c − d_c²) with ONE final division. Brand labels join in
    via a broadcast dim.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    assoc = li.select("l_orderkey", "l_partkey").distinct()
    b = assoc.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb")
    )
    edges = (
        assoc.join(
            b,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_partkey") < F.col("pb")),
        )
        .select(F.col("l_partkey").alias("pa"), "pb")
        .distinct()
    )
    la = part.select(
        F.col("p_partkey").alias("pa"), F.col("p_brand").alias("ba")
    )
    lb = part.select(
        F.col("p_partkey").alias("pb"), F.col("p_brand").alias("bb")
    )
    el = edges.join(F.broadcast(la), "pa").join(F.broadcast(lb), "pb").select(
        "ba", "bb"
    )
    m = el.agg(F.count(F.lit(1)).cast("long").alias("m"))
    within = (
        el.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    deg = (
        el.select(F.col("ba").alias("brand"))
        .unionAll(el.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    terms = (
        deg.join(within, "brand", "left")
        .transform(with_scalars, m)
        .select(
            "brand",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            "d_c",
            "m",
            (
                4 * F.col("m") * F.coalesce(F.col("e_in"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("long")
            .alias("num"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.any_value("m").cast("long").alias("n_edges"),
        F.sum("e_in").cast("long").alias("n_within_edges"),
        F.round(
            F.sum("num").cast("double")
            / (4.0 * F.any_value("m") * F.any_value("m")),
            6,
        ).alias("modularity"),
    )
