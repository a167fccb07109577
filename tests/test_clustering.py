"""Invariants for the deterministic k-means query (exact quantized
Lloyd): partition property, purity bounds, and bit-for-bit
reproducibility across independent executions (the property the
integer quantization buys)."""

from __future__ import annotations

import pytest

from dissertation_iceberg_spark.io import load_table
from dissertation_iceberg_spark.queries.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _run(spark, sf_dir):
    return sorted(
        REGISTRY["kmeans_cluster_stats"].fn(spark, sf_dir).collect(),
        key=lambda r: r["cluster_id"],
    )


def test_kmeans_partitions_corpus(spark, sf_dir):
    from dissertation_iceberg_spark.queries.extensions import km_k_for

    rows = _run(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    total = base.count()
    assert sum(r["n_vecs"] for r in rows) == total
    # derived bound, not a literal: k = greatest(KM_K, ceil(n/256)), so
    # the invariant stays correct if the fixture grows past the
    # 2048-vector boundary where corpus-scaled k leaves the floor
    assert len(rows) <= km_k_for(base)
    for r in rows:
        assert 0 < r["label_share"] <= 1.0
        assert r["mean_sq_dist"] >= 0.0


def test_kmeans_bitwise_reproducible(spark, sf_dir):
    a = _run(spark, sf_dir)
    b = _run(spark, sf_dir)
    assert a == b


@pytest.mark.slow
def test_corpus_scaled_k_parity(spark, tmp_path):
    """Round-7 registration fix: k is DERIVED from the corpus count
    (greatest(8, ceil(n/256))) in both engines. On a 3000-vector corpus
    the derived k is 12 (> the floor), the clustering still partitions
    the corpus, and all three Lloyd-family queries stay hash-green
    against their oracles — i.e. the scaled-k plan is oracle-checked
    beyond the fixture regime where k collapses to the floor."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dissertation_iceberg_spark.queries.extensions import km_k_for
    from tools.parity import run_parity

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "scaledk")
    os.makedirs(d)
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", f"{d}/{t}.parquet")

    n, dim = 3000, 64
    rng = np.random.default_rng(7)
    emb = rng.normal(0, 0.1, size=(n, dim)).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
                "label": pa.array((np.arange(n) % 10).tolist(), pa.int32()),
            }
        ),
        f"{d}/embeddings.parquet",
    )

    base = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    assert km_k_for(base) == 12

    res = run_parity(
        d, ["kmeans_cluster_stats", "semdedup_prune", "ari_kmeans_vs_labels"]
    )
    assert all(ok for ok, *_ in res.values()), {
        k: v for k, v in res.items() if not v[0]
    }

    rows = REGISTRY["kmeans_cluster_stats"].fn(spark, d).collect()
    assert sum(r["n_vecs"] for r in rows) == n
    assert 8 < len(rows) <= 12


def _write_embeddings(d, emb) -> None:
    """A tmp sf dir holding only ``embeddings.parquet`` (vec_id = row
    number, label = id mod 10) — enough for the embedding queries."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    n = len(emb)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    np.asarray(emb, "float32").tolist(), pa.list_(pa.float32())
                ),
                "label": pa.array((np.arange(n) % 10).tolist(), pa.int32()),
            }
        ),
        f"{d}/embeddings.parquet",
    )


def _oracle_check(spark, d, name):
    import duckdb

    from tools.parity import compare_frames

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    sp = REGISTRY[name].fn(spark, d).toPandas()
    return compare_frames(sp, con.execute(REGISTRY[name].oracle).fetchdf())


def test_lloyd_numerator_survives_int64_overflow(spark, tmp_path):
    """The Lloyd distance numerator Σ(x·n − s)² is accumulated wider
    than BIGINT. 16 planted groups of 4 vectors with components ±25000
    (2.5e8 on the integer grid): every squared term (≤ (4 · 5e8)²)
    fits in a BIGINT, but a vector's sum against another group's
    centroid is ~1e20 and overflows int64 (ANSI: long overflow). The
    IVF build must recover the planted groups as its lists, and the
    registered ivf_ann_topk must match its DuckDB oracle (HUGEINT sum)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.similarity import (
        build_ivf_index_exact,
    )

    rng = np.random.default_rng(11)
    signs = rng.choice([-1.0, 1.0], size=(16, 64))
    group = np.arange(64) % 16  # ids 0..15 (the seeds) hit every group
    emb = 25_000.0 * signs[group] + rng.integers(-50, 50, size=(64, 64))
    d = str(tmp_path / "overflow")
    _write_embeddings(d, emb)

    index = build_ivf_index_exact(load_table(spark, d, "embeddings"))
    got = {r["vec_id"]: r["list_id"] for r in index.lists.collect()}
    assert got == {i: int(group[i]) for i in range(64)}

    ok, msg = _oracle_check(spark, d, "ivf_ann_topk")
    assert ok, msg


def test_lloyd_argmin_ties_go_to_lower_id(spark, tmp_path):
    """Seed ids 0..15 come in duplicate pairs (2c, 2c+1), so every
    first-pass assignment ties between two clusters (k-means, IVF) or
    two codewords in each subspace (PQ). The struct argmin must break
    every tie to the lower id exactly as the oracles' row_number over
    (dist, id) does."""
    import numpy as np

    rng = np.random.default_rng(5)
    emb = rng.normal(0, 0.1, size=(100, 64))
    emb[1:16:2] = emb[0:16:2]
    d = str(tmp_path / "ties")
    _write_embeddings(d, emb)

    for name in ("kmeans_cluster_stats", "pq_codebooks", "ivf_ann_topk"):
        ok, msg = _oracle_check(spark, d, name)
        assert ok, (name, msg)
