"""The scale ladder (tools/scale_exp.py): its key-scaled replica writer,
and one factor-1 run of every kernel."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import TABLES, load_table, lob_events
from tools import scale_exp as se


@pytest.fixture(scope="module")
def replica(spark, sf_dir, tmp_path_factory):
    return se.write_replica(
        spark, sf_dir, 2, root=str(tmp_path_factory.mktemp("replicas"))
    )


def test_replica_has_twice_the_rows(spark, sf_dir, replica):
    for t in TABLES:
        n = load_table(spark, sf_dir, t).count()
        want = n if t in se.UNSCALED else 2 * n
        assert load_table(spark, replica, t).count() == want, t


def test_replica_key_ranges_are_disjoint(spark, sf_dir, replica):
    """Block b holds exactly the source keys shifted by b * step, and
    every source key is below one step, so the blocks cannot meet."""
    for t, shifts in se.SHIFTS.items():
        src, rep = load_table(spark, sf_dir, t), load_table(spark, replica, t)
        for c, step in shifts.items():
            lo, hi = src.agg(F.min(c), F.max(c)).first()
            assert 0 <= lo and hi < step, (t, c)
            assert {r[0] for r in rep.select(F.floor(F.col(c) / step)).distinct()
                    .collect()} == {0, 1}, (t, c)
            for b in (0, 1):
                block = rep.filter(F.floor(F.col(c) / step) == b).select(
                    (F.col(c) - b * step).alias(c)
                )
                assert block.exceptAll(src.select(c)).isEmpty(), (t, c, b)
                assert src.select(c).exceptAll(block).isEmpty(), (t, c, b)


def test_replica_joins_scale_exactly(spark, sf_dir, replica):
    def joined(d):
        li = load_table(spark, d, "lineitem")
        return (
            li.join(load_table(spark, d, "orders"),
                    F.col("l_orderkey") == F.col("o_orderkey")).count(),
            li.join(load_table(spark, d, "part"),
                    F.col("l_partkey") == F.col("p_partkey")).count(),
        )

    (lo, lp), (ro, rp) = joined(sf_dir), joined(replica)
    assert lo > 0 and lp > 0
    assert (ro, rp) == (2 * lo, 2 * lp)


def test_replica_keeps_lob_direction(spark, sf_dir, replica):
    src = lob_events(spark, sf_dir).select("event_id", "direction")
    rep = lob_events(spark, replica).select(
        (F.col("event_id") % se.EVENT_STEP).alias("event_id"), "direction"
    )
    assert rep.exceptAll(src.unionAll(src)).isEmpty()
    assert src.unionAll(src).exceptAll(rep).isEmpty()


def test_replica_is_written_once_per_source(spark, sf_dir, replica):
    root = os.path.dirname(os.path.dirname(replica))
    mtime = os.stat(replica).st_mtime_ns
    assert se.write_replica(spark, sf_dir, 2, root=root) == replica
    assert os.stat(replica).st_mtime_ns == mtime
    other = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    assert se._key(other) != se._key(sf_dir)


@pytest.fixture(scope="module")
def replica_x1(spark, sf_dir, tmp_path_factory):
    # sf0.01: at sf0.001 the 30 s and 120 s E1 arms have singular OLS
    # designs and give no row, so the E1 kernel would time a partial fit
    src = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    return se.write_replica(
        spark, src, 1, root=str(tmp_path_factory.mktemp("replicas"))
    )


@pytest.mark.slow
@pytest.mark.parametrize("kernel", se.KERNELS, ids=lambda k: k.name)
def test_every_kernel_runs_at_factor_1(spark, replica_x1, kernel):
    n = load_table(spark, replica_x1, kernel.table).count()
    out = se.run(spark, kernel, replica_x1, 1, n)
    assert "dnf" not in out, out
    assert out["out_rows"] > 0 and out["sec"] > 0
