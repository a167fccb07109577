from __future__ import annotations


def test_entry_runs(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = df.columns
    assert cols == [
        "bin",
        "order_imbalance",
        "n_events",
        "first_price",
        "last_price",
        "log_ret",
        "fut_log_ret",
    ]
    # invariants: OI in [-1, 1]; grid is complete (consecutive hourly bins)
    ois = [r["order_imbalance"] for r in rows if r["order_imbalance"] is not None]
    assert all(-1.0 <= v <= 1.0 for v in ois)
    bins = [r["bin"] for r in rows]
    deltas = {(b - a).total_seconds() for a, b in zip(bins, bins[1:])}
    assert deltas == {3600.0}


def test_flagship_observe_metrics(spark, sf_dir):
    """Pipeline observability: Observation metrics ride the flagship
    plan for free (no second pass) and must agree with the materialized
    result — the hook a production deployment uses for row-count /
    freshness monitoring on a 100 TB job.

    Runs on an ISOLATED spark.newSession(): Spark 4.1's per-session
    ObservationManager is not serializable, and once an Observation has
    been registered, any LATER job whose closure captures the same
    session object (e.g. RandomForest's training summary) fails closure
    cleaning with NotSerializableException — observed as py4j errors in
    unrelated ML tests. Isolating the observation on its own session
    object keeps the shared test session clean."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    s = spark.newSession()
    df = REGISTRY["oi_hourly_densified"].fn(s, sf_dir)
    obs = Observation("flagship")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_events").alias("n_events_total"),
    )
    rows = observed.collect()
    got = obs.get
    assert got["n_bins"] == len(rows)
    assert got["n_events_total"] == sum(r["n_events"] for r in rows)


def test_bench_contamination_rule():
    """bench.py's env.contaminated follows the README rule: steal >= 3 %,
    load1 at start > 2, or median/min > 1.5 on two or more queries."""
    from bench import contamination

    calm = {"a": {"median": 1.4, "min": 1.0}, "b": {"median": 2.0, "min": 1.0}}
    assert contamination([0.5, 0.4, 0.3], 2.9, calm) == []
    assert contamination(None, None, {}) == []
    noisy = {**calm, "c": {"median": 1.6, "min": 1.0}}
    reasons = contamination([2.5, 1.0, 1.0], 3.0, noisy)
    assert len(reasons) == 3
    assert reasons[2].startswith("median/min > 1.5 on 2 queries: b, c")


def test_python_workers_import_package_from_any_cwd(tmp_path, sf_dir):
    """A mapInPandas query run from a process whose cwd is not the repo
    and whose own ``sys.path`` alone holds it: the session must give
    its Python workers the package's parent directory on PYTHONPATH,
    or they fail to unpickle the UDF with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from dissertation_iceberg_spark.session import get_spark\n"
        "from dissertation_iceberg_spark.queries.extensions import (\n"
        "    multimodal_features)\n"
        "spark = get_spark('cwd-test', master='local[2]',"
        " shuffle_partitions=2)\n"
        f"print('ROWS', multimodal_features(spark, {sf_dir!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    rows = [ln for ln in run.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, run.stdout
