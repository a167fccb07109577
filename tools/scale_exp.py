"""Scale ladder: the registered queries timed on key-scaled 1× / 10× /
100× replicas of the sf tables (the SCALE.md tables of record).

Replication is KEY-SCALED. Each replica block shifts every key by one
step per block (the same step for a key in every table that carries
it), prefixes each word of ``documents.text`` with the block id and
moves ``embeddings`` by 0.01 per block along every axis. So data grows
the way real corpora grow, with more keys and more distinct documents,
never 100 copies of one row (which would inflate pair-generating
kernels quadratically and measure a shape no real corpus has).
``nation`` and ``region`` are dimensions and are not replicated.

For each factor :func:`write_replica` writes all ten tables once into
one replica directory under the git-ignored ``spark-warehouse/``,
keyed by the source directory. Every timed frame is then either a
registered query, ``REGISTRY[name].fn(spark, replica_dir)``, or one
call to a public library operator where the arm measures a deployment
parameter the registry fixes (per-user OI bins, the as-of tolerance,
skewed corpora, IVF list count, the nine E1 deltas). The parquet scan
runs inside the timer.

CLI: python tools/scale_exp.py [sf_dir] [factor ...]
     (default /root/testdata/sf0.1, factors 1 10 100;
     SCALE_KERNELS=vpin,item_cf_topk runs only the named kernels)

Prints one JSON line per (kernel, factor): ``sec`` is the best of two
noop-sink runs after a count warm-up (which gives ``out_rows``), the
timer starting before frame construction, because the driver-loop
queries run jobs while they build. ``input_rows`` is the row count of
the kernel's fact table in the replica. A kernel that is not run, or
fails, prints ``dnf`` with the reason.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from dissertation_iceberg_spark.io import (  # noqa: E402
    TABLES,
    load_table,
    lob_events,
    spread,
)
from dissertation_iceberg_spark.queries.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from dissertation_iceberg_spark.session import get_spark  # noqa: E402

BEST_OF = 2
REPLICA_ROOT = os.path.join(ROOT, "spark-warehouse", "scale_replicas")

KEY_STEP = 10_000_000  # per-block shift of every entity key
EVENT_STEP = 10_000_000_000  # event_id: even, so direction parity holds
SHIFTS = {
    "customer": {"c_custkey": KEY_STEP},
    "supplier": {"s_suppkey": KEY_STEP},
    "part": {"p_partkey": KEY_STEP},
    "orders": {"o_orderkey": KEY_STEP, "o_custkey": KEY_STEP},
    "lineitem": {
        "l_orderkey": KEY_STEP,
        "l_partkey": KEY_STEP,
        "l_suppkey": KEY_STEP,
    },
    "events": {"user_id": KEY_STEP, "event_id": EVENT_STEP},
    "documents": {"doc_id": KEY_STEP},
    "embeddings": {"vec_id": KEY_STEP},
}
UNSCALED = ("nation", "region")

# nine E1 deltas: the reference's intraday list (30 s .. 30 min) plus
# 1 h and 6 h
E1_DELTAS = [30, 60, 120, 300, 600, 900, 1800, 3600, 21600]

# a 12-token footer whose ~10 shingles every skewed doc shares across
# replica blocks (web-corpus boilerplate)
BOILER = (
    " copyright terms of service all rights reserved"
    " contact us privacy policy sitemap home"
)
# an uncapped posting list of df docs materializes C(df, 2) pair
# structs in one row; C(5000, 2) = 12.5M OOMed a 128 GiB node (SCALE.md)
MAX_POSTING_PAIRS = 4_000_000
# one shuffled wedge row (two part keys, two degrees) is ~40 bytes
WEDGE_ROW_BYTES = 40

# SCALE_KERNELS=vpin,item_cf_topk limits a run to the named kernels
ONLY = {k for k in os.environ.get("SCALE_KERNELS", "").split(",") if k}


def _key(sf_dir: str) -> str:
    """Replica key: the source path plus each table's size and mtime,
    so a different (or rewritten) source never reads another's copy."""
    src = os.path.abspath(sf_dir)
    h = hashlib.sha1(src.encode())
    for t in TABLES:
        st = os.stat(os.path.join(src, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{os.path.basename(src)}-{h.hexdigest()[:12]}"


def _scaled(df: DataFrame, table: str, factor: int) -> DataFrame:
    """``factor`` key-shifted copies of ``df``, one replica block per
    task: the block index range is the streamed side of a broadcast
    cross join, so each block becomes its own file."""
    spark = df.sparkSession
    rep = F.col("__rep")
    reps = spark.range(factor, numPartitions=factor).select(
        F.col("id").alias("__rep")
    )
    cols = {c: F.col(c) for c in df.columns}
    for c, step in SHIFTS[table].items():
        cols[c] = cols[c] + rep * step
    if factor > 1 and table == "documents":
        pfx = F.concat(F.lit("b"), rep, F.lit("_"))
        cols["text"] = F.concat(
            pfx, F.regexp_replace("text", " ", F.concat(F.lit(" "), pfx))
        )
        cols["n_chars"] = F.length(cols["text"]).cast("long")
    if factor > 1 and table == "embeddings":
        cols["embedding"] = F.transform(
            "embedding", lambda x: (x + rep.cast("float") * 0.01).cast("float")
        )
    return reps.crossJoin(F.broadcast(df)).select(
        *[col.alias(c) for c, col in cols.items()]
    )


def write_replica(
    spark: SparkSession, sf_dir: str, factor: int, root: str = REPLICA_ROOT
) -> str:
    """The directory holding the ``factor``× key-scaled copy of all ten
    tables of ``sf_dir``, written once (and atomically, via a rename)
    per (source, factor)."""
    out = os.path.join(root, _key(sf_dir), f"x{factor}")
    if os.path.isdir(out):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        if t not in UNSCALED:
            df = _scaled(df, t, factor)
        df.write.parquet(os.path.join(tmp, f"{t}.parquet"))
    os.rename(tmp, out)
    return out


def timed(make: Callable[[], DataFrame]) -> tuple[float, int]:
    """(best-of-``BEST_OF`` noop-sink seconds, output rows)."""
    rows = make().count()
    best = math.inf
    for _ in range(BEST_OF):
        t0 = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best, rows


def emit(kernel: str, factor: int, **fields) -> None:
    print(json.dumps({"kernel": kernel, "factor": factor, **fields}), flush=True)


# ---------------------------------------------------------------------------
# library-operator arms and per-kernel extras
# ---------------------------------------------------------------------------


def _skewed(spark: SparkSession, d: str, every: int) -> DataFrame:
    """Replica documents where every ``every``-th doc of each block
    carries the unprefixed footer (its shingles' df = n_docs/every)."""
    docs = spread(load_table(spark, d, "documents"))
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % KEY_STEP % every == 0,
            F.concat("text", F.lit(BOILER)),
        ).otherwise(F.col("text")),
    )


def _posting_guard(every: int) -> Callable[[dict], str | None]:
    def guard(pre: dict) -> str | None:
        df = pre["input_rows"] // every
        if df * (df - 1) // 2 > MAX_POSTING_PAIRS:
            return (
                f"uncapped boilerplate posting list C({df},2) > "
                f"{MAX_POSTING_PAIRS:,} pair structs in one row (OOM class)"
            )
        return None

    return guard


def _oi_per_user(spark: SparkSession, d: str) -> DataFrame:
    from dissertation_iceberg_spark.operators.order_imbalance import oi_pipeline

    return oi_pipeline(lob_events(spark, d), 3600, group_cols=["user_id"])


def _asof(spark: SparkSession, d: str) -> DataFrame:
    from dissertation_iceberg_spark.operators.iceberg import asof_next_within

    purchase = F.col("event_type") == "purchase"
    return asof_next_within(
        lob_events(spark, d),
        probe_pred=purchase,
        match_pred=F.col("event_type") == "signup",
        by_cols=["user_id"],
        tolerance_us=120_000_000,
    ).filter(purchase)


def _jaccard(every: int, cap: int | None):
    def make(spark: SparkSession, d: str) -> DataFrame:
        from dissertation_iceberg_spark.operators.dedup import jaccard_near_dup_pairs

        return jaccard_near_dup_pairs(
            _skewed(spark, d, every), "text", "doc_id", n=3, threshold=0.8,
            max_shingle_freq=cap,
        )

    return make


def _prefix_skew(spark: SparkSession, d: str) -> DataFrame:
    from dissertation_iceberg_spark.operators.dedup import prefix_filter_near_dup_pairs

    return prefix_filter_near_dup_pairs(
        _skewed(spark, d, 1), "text", "doc_id", n=3, threshold=0.8
    )


def _winnow_skew(spark: SparkSession, d: str) -> DataFrame:
    from dissertation_iceberg_spark.operators.dedup import winnow_near_dup_pairs

    return winnow_near_dup_pairs(
        _skewed(spark, d, 1), "text", "doc_id", k=3, w=4, min_shared=2,
        max_fp_freq=64,
    )


def _e1(spark: SparkSession, d: str) -> DataFrame:
    from dissertation_iceberg_spark.plans.workflows import regression_workflow

    return regression_workflow(spark, d, deltas=E1_DELTAS)


def _wedges(spark: SparkSession, d: str) -> dict:
    """Σ C(deg, 2) over the distinct part co-purchase graph: the wedge
    volume both link-prediction queries expand (their Θ(Σd²) cost)."""
    li = load_table(spark, d, "lineitem").select("l_orderkey", "l_partkey")
    e0 = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("n"))
        .unionAll(e0.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    row = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w"),
        F.max("d").alias("dmax"),
        F.sum("d").cast("long").alias("d2e"),
    ).first()
    return {"edges": row["d2e"] // 2, "max_degree": row["dmax"], "wedges": row["w"]}


def _wedge_guard(pre: dict) -> str | None:
    """Skip a wedge expansion whose shuffle cannot fit the local disk
    Spark spills to (its default spark.local.dir, the temp dir)."""
    need = pre["wedges"] * WEDGE_ROW_BYTES
    free = shutil.disk_usage(tempfile.gettempdir()).free
    if need > free:
        return (
            f"wedge shuffle ~{need / 1e9:.0f} GB ({pre['wedges']:,} wedges x "
            f"{WEDGE_ROW_BYTES} B) > {free / 1e9:.0f} GB free local disk"
        )
    return None


def _clusters(spark: SparkSession, d: str) -> dict:
    """The registered SemDeDup k and the cluster sizes its first-k-by-id
    seeding gives on this replica (min / median / max)."""
    from dissertation_iceberg_spark.queries.extensions import _km_base, _lloyd2

    base, k = _km_base(spark, d)
    sizes = sorted(
        r["n"]
        for r in _lloyd2(base, k).groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {
        "n_clusters": k,
        "nonempty_clusters": len(sizes),
        "cluster_size_min_p50_max": [sizes[0], sizes[len(sizes) // 2], sizes[-1]],
    }


def ivf_probe(spark: SparkSession, d: str, factor: int) -> dict:
    """Exact IVF build with n_lists = 16√r (the sqrt-corpus sizing rule)
    untimed, then the n_probe=4 search timed; reports the build time
    and the list-size spread its first-k-by-id seeds give."""
    from dissertation_iceberg_spark.operators.similarity import (
        build_ivf_index_exact,
        ivf_search_exact,
    )

    emb = spread(load_table(spark, d, "embeddings"))
    n_lists = 16 * int(factor**0.5)
    t0 = time.perf_counter()
    idx = build_ivf_index_exact(emb, n_lists=n_lists)
    idx.lists.persist().count()
    idx.cent_df.persist().count()
    build = time.perf_counter() - t0
    sizes = sorted(
        r["count"] for r in idx.lists.groupBy("list_id").count().collect()
    )
    queries = emb.filter(
        (F.col("vec_id") < KEY_STEP) & (F.col("vec_id") % 50 == 0)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    sec, rows = timed(lambda: ivf_search_exact(idx, queries, k=3, n_probe=4))
    idx.lists.unpersist()
    idx.cent_df.unpersist()
    return {
        "out_rows": rows,
        "sec": round(sec, 3),
        "build_sec": round(build, 3),
        "n_lists": n_lists,
        "nonempty_lists": len(sizes),
        "list_size_min_p50_max": [sizes[0], sizes[len(sizes) // 2], sizes[-1]],
        "largest_lists": sizes[::-1][:5],
    }


@dataclass(frozen=True)
class Kernel:
    name: str
    table: str  # the fact table whose replica row count is input_rows
    make: Callable[[SparkSession, str], DataFrame] | None = None
    # facts gathered before the run (reported beside the timing)
    extra: Callable[[SparkSession, str], dict] | None = None
    # given input_rows and the extra facts: a reason not to run, or None
    guard: Callable[[dict], str | None] | None = None


def _registered(table: str, names: str, **kw) -> list[Kernel]:
    return [
        Kernel(n, table, lambda s, d, n=n: REGISTRY[n].fn(s, d), **kw)
        for n in names.split()
    ]


KERNELS = [
    Kernel("oi_pipeline", "events", _oi_per_user),
    Kernel("asof_next_within", "events", _asof),
    *_registered(
        "events",
        "vpin roll_spread rfm_scores lasttouch_attribution scd2_dimension"
        " croston_intermittent logistic_irls_gram stump_boost_gram"
        " bayes_ab_expected_loss kruskal_wallis trimmed_winsorized_means",
    ),
    *_registered(
        "lineitem",
        "copurchase_lift sole_blame_suppliers item_cf_topk"
        " triangle_count_oriented tdigest_centroids gbm_stumps",
    ),
    *_registered(
        "lineitem", "adamic_adar_links link_prediction_cn",
        extra=_wedges, guard=_wedge_guard,
    ),
    *_registered("orders", "interval_overlap_pairs incremental_join_merge"),
    *_registered(
        "documents",
        "jaccard_near_dups prefix_filter_near_dups winnow_near_dups"
        " ccnet_perplexity_buckets minhash_estimator_error"
        " dsir_importance_resampling softdedup_weights cross_source_duplication",
    ),
    Kernel("prefix_filter_skew", "documents", _prefix_skew),
    Kernel("winnow_skew", "documents", _winnow_skew),
    Kernel("jaccard_uncapped_skew", "documents", _jaccard(1, None),
           guard=_posting_guard(1)),
    Kernel("jaccard_capped_mildskew", "documents", _jaccard(20, 256)),
    Kernel("jaccard_uncapped_mildskew", "documents", _jaccard(20, None),
           guard=_posting_guard(20)),
    *_registered(
        "embeddings", "jl_distortion_audit pca_power_iteration pq_adc_topk"
    ),
    *_registered("embeddings", "semdedup_prune", extra=_clusters),
    Kernel("ivf_probe", "embeddings"),
    *_registered(
        "events",
        "regression_workflow_coefs single_strategy_workflow_pnl"
        " portfolio_workflow_pnl",
    ),
    Kernel("regression_workflow_e1", "events", _e1),
]


def run(spark: SparkSession, k: Kernel, d: str, factor: int, n_in: int) -> dict:
    """One kernel on one replica: its JSON fields after kernel/factor."""
    _ensure_loaded()
    pre = {"input_rows": n_in, **(k.extra(spark, d) if k.extra else {})}
    reason = k.guard(pre) if k.guard else None
    if reason:
        return {**pre, "dnf": reason}
    if k.make is None:
        return {**pre, **ivf_probe(spark, d, factor)}
    sec, rows = timed(lambda: k.make(spark, d))
    return {**pre, "out_rows": rows, "sec": round(sec, 3)}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factors = [int(a) for a in sys.argv[2:]] or [1, 10, 100]
    # local[<real cores>] unless SPARK_GRAFT_CPUS says otherwise
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark()
    kernels = [k for k in KERNELS if not ONLY or k.name in ONLY]
    for r in factors:
        d = write_replica(spark, sf_dir, r)
        n_in = {t: load_table(spark, d, t).count() for t in {k.table for k in kernels}}
        for k in kernels:
            try:
                emit(k.name, r, **run(spark, k, d, r, n_in[k.table]))
            except Exception as e:  # noqa: BLE001 — record and go on
                traceback.print_exc()
                emit(k.name, r, input_rows=n_in[k.table],
                     dnf=str(e).strip().splitlines()[0][:300])


if __name__ == "__main__":
    main()
