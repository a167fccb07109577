"""Property-based tests (hypothesis) for the semantics the oracle can't
sweep: ceil-bin labels vs pandas, OI bounds, dedup idempotence, as-of
tolerance monotonicity."""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

MICROS = st.integers(
    min_value=1_500_000_000_000_000, max_value=1_600_000_000_000_000
)


@settings(max_examples=20, deadline=None)
@given(st.lists(MICROS, min_size=1, max_size=40), st.sampled_from([15, 60, 900]))
def test_bin_end_matches_pandas_ceil(spark, micros, delta):
    from dissertation_iceberg_spark.functions.time_bins import bin_end

    pdf = pd.DataFrame({"ts": pd.to_datetime(micros, unit="us")})
    got = (
        spark.createDataFrame(pdf)
        .select(bin_end("ts", delta).alias("bin"))
        .toPandas()["bin"]
        .reset_index(drop=True)
    )
    want = pdf["ts"].dt.ceil(f"{delta}s").reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([-1, 1]), st.integers(min_value=1, max_value=10_000)
        ),
        min_size=1,
        max_size=50,
    )
)
def test_oi_bounded(spark, rows):
    from dissertation_iceberg_spark.operators.order_imbalance import oi_expr

    df = spark.createDataFrame(
        [(d, float(s)) for d, s in rows], ["direction", "size"]
    )
    oi = df.agg(oi_expr(F.col("direction"), F.col("size")).alias("oi")).collect()[0][
        "oi"
    ]
    assert oi is not None and -1.0 <= oi <= 1.0
    # sign identity: all sells -> +1, all buys -> -1
    if all(d == -1 for d, _ in rows):
        assert oi == 1.0
    if all(d == 1 for d, _ in rows):
        assert oi == -1.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=30,
    )
)
def test_dedup_idempotent(spark, rows):
    from dissertation_iceberg_spark.operators.preprocessing import dedup_first

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], ["seq", "k", "v"]
    )
    once = dedup_first(df, ["k", "v"], "seq")
    twice = dedup_first(once, ["k", "v"], "seq")
    a = sorted(once.collect())
    b = sorted(twice.collect())
    assert a == b
    # keeps the FIRST seq per key
    seen = {}
    for i, (k, v) in enumerate(rows):
        seen.setdefault((k, v), i)
    assert sorted(r["seq"] for r in a) == sorted(seen.values())


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=2000))
def test_asof_tolerance_monotone(spark, gap_us):
    """If a refill at gap g is tagged, any tolerance >= g tags it and
    any tolerance < g does not."""
    from dissertation_iceberg_spark.operators.iceberg import asof_next_within

    base = pd.Timestamp("2018-03-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "ticker": ["A", "A"],
            "seq": [0, 1],
            "event_type": [4, 1],
            "price": [100, 100],
            "datetime": [base, base + pd.Timedelta(microseconds=gap_us)],
        }
    )
    df = spark.createDataFrame(pdf)

    def flag(tol):
        out = (
            asof_next_within(
                df,
                F.col("event_type") == 4,
                F.col("event_type") == 1,
                ["ticker", "price"],
                "datetime",
                "seq",
                tol,
            )
            .filter(F.col("event_type") == 4)
            .collect()
        )
        return out[0]["iceberg"]

    assert flag(gap_us) == 1  # inclusive at exactly the gap
    assert flag(gap_us + 1) == 1
    if gap_us > 0:
        assert flag(gap_us - 1) == 0


def test_connected_components_chain_triangle(spark):
    """Min-label propagation reaches the exact fixpoint: a 4-chain
    (transitive closure beyond direct pairs), a triangle, and a
    detached pair each collapse to their min id; a string-id chain
    collapses to its min string."""
    from dissertation_iceberg_spark.operators.dedup import connected_components

    cases = [
        (
            [(1, 2), (2, 3), (3, 4),      # chain: 1-2-3-4
             (10, 11), (11, 12), (10, 12),  # triangle
             (20, 21)],                   # pair
            {1: 1, 2: 1, 3: 1, 4: 1,
             10: 10, 11: 10, 12: 10,
             20: 20, 21: 20},
        ),
        (
            [("d", "c"), ("c", "b"), ("b", "a")],  # chain, min id last
            {"a": "a", "b": "a", "c": "a", "d": "a"},
        ),
    ]
    for pairs, want in cases:
        edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
        got = {
            r["id"]: r["label"]
            for r in connected_components(edges, max_iter=10).collect()
        }
        assert got == want


def test_connected_components_scaled_decimal_ids(spark):
    """decimal(10,2) ids that all round to the same integer: a 4-chain
    needs three sweeps, but the rounded label sum never moves, so a
    convergence check on rounded labels would stop after the first
    sweep."""
    from decimal import Decimal

    from dissertation_iceberg_spark.operators.dedup import connected_components

    ids = [Decimal(x) for x in ("1.10", "1.20", "1.30", "1.40")]
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a decimal(10,2), id_b decimal(10,2)"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components(edges, max_iter=10).collect()
    }
    assert got == {i: ids[0] for i in ids}


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=2,
        max_size=15,
    )
)
def test_gap_fill_linear_properties(spark, obs):
    """Gap-fill invariants on arbitrary sparse integer series: observed
    bins keep their exact value, interior gaps match numpy linear
    interpolation, fills are bounded by their endpoints, and edges are
    never invented."""
    import numpy as np

    from dissertation_iceberg_spark.operators.sessions import gap_fill_linear

    rows = [("g", b, c) for b, c in obs.items()]
    df = spark.createDataFrame(rows, ["event_type", "bi", "cents"])
    out = {
        r["bi"]: r
        for r in gap_fill_linear(df).collect()
    }
    bins = sorted(obs)
    lo, hi = bins[0], bins[-1]
    assert set(out) == set(range(lo, hi + 1))
    xp = np.array(bins, dtype=float)
    fp = np.array([obs[b] for b in bins], dtype=float) / 100.0
    for b, r in out.items():
        if b in obs:
            assert r["filled"] is False
            assert r["value"] == obs[b] / 100.0
        else:
            assert r["filled"] is True
            want = float(np.interp(b, xp, fp))
            assert abs(r["value"] - want) < 1e-9
            left = max(x for x in bins if x < b)
            right = min(x for x in bins if x > b)
            lov = min(obs[left], obs[right]) / 100.0
            hiv = max(obs[left], obs[right]) / 100.0
            assert lov - 1e-9 <= r["value"] <= hiv + 1e-9


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=3),
        min_size=1,
        max_size=130,
    )
)
def test_chunking_reconstructs(spark, tokens):
    """chunk_documents semantics vs a pure-Python recomputation:
    chunk count, per-chunk lengths, and md5 digests all match for
    arbitrary token streams."""
    import hashlib
    import math

    from dissertation_iceberg_spark.queries.llm_ops import (
        CHUNK_STEP,
        CHUNK_TOKENS,
        chunk_documents,
    )
    from dissertation_iceberg_spark.queries import llm_ops

    text = " ".join(tokens)
    df = spark.createDataFrame(
        [(1, text, "en", "src0", len(text))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    orig = llm_ops.load_table
    try:
        llm_ops.load_table = lambda *_a, **_k: df
        got = sorted(
            chunk_documents(spark, "ignored").collect(),
            key=lambda r: r["chunk_idx"],
        )
    finally:
        llm_ops.load_table = orig

    n = len(tokens)
    want_chunks = math.ceil(n / CHUNK_STEP)
    assert len(got) == want_chunks
    for i, r in enumerate(got):
        start = i * CHUNK_STEP
        chunk = tokens[start : start + CHUNK_TOKENS]
        assert r["chunk_idx"] == i
        assert r["chunk_len"] == len(chunk)
        assert r["chunk_md5"] == hashlib.md5(" ".join(chunk).encode()).hexdigest()


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdef ", min_size=1, max_size=30),
        min_size=1,
        max_size=40,
    )
)
def test_countmin_never_undercounts(spark, texts):
    """Count-min guarantee: for EVERY key, the sketch estimate is >=
    the true count, on arbitrary token streams."""
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _seeded_hash_col,
    )

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    toks = df.select(
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
            "tok"
        )
    )
    if toks.count() == 0:
        return
    ds = F.array(*[F.lit(d) for d in range(4)])
    cells = (
        toks.select("tok", F.explode(ds).alias("d"))
        .select("d", (_seeded_hash_col(F.col("d"), F.col("tok")) % 64).alias("cell"))
        .groupBy("d", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    true = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    probes = true.select("tok", "true_n", F.explode(ds).alias("d")).select(
        "tok",
        "true_n",
        "d",
        (_seeded_hash_col(F.col("d"), F.col("tok")) % 64).alias("cell"),
    )
    est = (
        cells.join(probes, ["d", "cell"])
        .groupBy("tok")
        .agg(F.any_value("true_n").alias("true_n"), F.min("n").alias("est_n"))
        .toPandas()
    )
    assert (est.est_n >= est.true_n).all()


def test_funnel_counts_monotone(spark, sf_dir):
    """Ordered funnel step counts can only shrink: n1 >= n2 >= n3."""
    from dissertation_iceberg_spark.queries.behavior_ops import funnel_conversion

    rows = {r["step"]: r["n_users"] for r in funnel_conversion(spark, sf_dir).collect()}
    assert rows[1] >= rows[2] >= rows[3]


def test_pagerank_rank_mass_bounded(spark, sf_dir):
    """Damped PageRank keeps every rank within [base, base + d*total):
    no node's integer rank can exceed the total injected mass, and the
    floor divisions only ever lose mass (sum <= n * scale)."""
    from dissertation_iceberg_spark.queries.graph_ops import (
        _SCALE,
        pagerank_top_nodes,
    )

    ranks = pagerank_top_nodes(spark, sf_dir).toPandas()
    assert (ranks.rank_micro >= 150_000).all()
    # top node can't hold more than the whole graph's mass
    n_nodes = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey"
    ).distinct().count() + spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey"
    ).distinct().count()
    assert ranks.rank_micro.max() <= n_nodes * _SCALE


def test_bloom_no_false_negatives_property(spark, sf_dir):
    """Bloom contract on the real fixture: the build source's hit rate
    is exactly 1.0 (false negatives are impossible)."""
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _BLOOM_BUILD_SOURCE,
        bloom_membership_audit,
    )

    out = bloom_membership_audit(spark, sf_dir).toPandas().set_index("source")
    assert out.loc[_BLOOM_BUILD_SOURCE, "hit_rate"] == 1.0


def test_bloom_gate_is_safe(spark, sf_dir):
    """The Bloom gate must be lossless for true duplicates: per-source
    confirmed contaminants equal what an ungated exact fingerprint
    join finds (no false negatives ever pass undetected)."""
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _BLOOM_BUILD_SOURCE,
        bloom_gated_decontamination,
    )
    from dissertation_iceberg_spark.io import load_table

    got = (
        bloom_gated_decontamination(spark, sf_dir)
        .toPandas()
        .set_index("source")["n_confirmed"]
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    test_fps = (
        docs.filter(F.col("source") == _BLOOM_BUILD_SOURCE).select("fp").distinct()
    )
    exact = (
        docs.filter(F.col("source") != _BLOOM_BUILD_SOURCE)
        .join(test_fps, "fp")
        .groupBy("source")
        .count()
        .toPandas()
        .set_index("source")["count"]
    )
    for src, n in got.items():
        assert n == exact.get(src, 0), (src, n, exact.get(src, 0))


def test_hll_estimate_within_error_bound(spark, sf_dir):
    """HLL contract on the real fixture: the per-language estimate
    lands within a few standard errors of the exact distinct count
    (sigma = 1.04/sqrt(256) ~ 6.5%), and the register-sum invariants
    hold (0 <= n_empty <= m, denominator <= m * 2^SHIFT)."""
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _HLL_M,
        _HLL_SHIFT,
        hll_distinct,
    )

    out = hll_distinct(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert ((out.n_empty >= 0) & (out.n_empty <= _HLL_M)).all()
    assert (out.s_scaled <= _HLL_M * (1 << _HLL_SHIFT)).all()
    assert (out.s_scaled > 0).all()
    # raw HLL needs cardinality above ~2.5m to skip the linear-counting
    # regime — the query targets order keys per flag for exactly this
    assert (out.n_exact >= 2.5 * _HLL_M).all()
    # 4 sigma of the classic HLL standard error 1.04/sqrt(m)
    assert (out.rel_err.abs() <= 4 * 1.04 / (_HLL_M**0.5)).all(), out


def test_transition_probs_normalize(spark, sf_dir):
    """Markov matrix invariants: outgoing probabilities sum to ~1 per
    from-state (6-dp rounding x <= n_types terms of slack), and total
    transitions = total events - one first-event per active user."""
    from dissertation_iceberg_spark.queries.behavior_ops import event_transitions

    out = event_transitions(spark, sf_dir).toPandas()
    sums = out.groupby("from_type")["p_next"].sum()
    n_types = out["to_type"].nunique()
    assert ((sums - 1.0).abs() <= n_types * 5e-7 + 1e-9).all(), sums
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert out["n_trans"].sum() == n_events - n_users


def test_windowed_funnel_tighter_than_unbounded(spark, sf_dir):
    """The 24 h gap bound can only remove conversions: every windowed
    step count <= the unbounded funnel's, and counts shrink down the
    funnel."""
    from dissertation_iceberg_spark.queries.behavior_ops import (
        funnel_conversion,
        windowed_funnel,
    )

    wf = {r["step"]: r["n_users"] for r in windowed_funnel(spark, sf_dir).collect()}
    uf = {r["step"]: r["n_users"] for r in funnel_conversion(spark, sf_dir).collect()}
    assert wf[1] == uf[1]  # stage 1 has no gap predicate
    assert wf[2] <= uf[2] and wf[3] <= uf[3]
    assert wf[1] >= wf[2] >= wf[3]


def test_scd2_versions_tile_time(spark, sf_dir):
    """SCD2 interval discipline per user: version numbers contiguous
    from 1, intervals are [from, to) with to = next from (no gaps, no
    overlap), and exactly one open (current) version."""
    from dissertation_iceberg_spark.queries.lakehouse_ops import scd2_versions

    out = (
        scd2_versions(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "version_no"])
    )
    for _, g in out.groupby("user_id"):
        assert list(g.version_no) == list(range(1, len(g) + 1))
        assert g.is_current.sum() == 1 and g.iloc[-1].is_current == 1
        # each closed interval's end is the next version's start
        assert (
            g.valid_to_us.iloc[:-1].astype("int64")
            == g.valid_from_us.iloc[1:].astype("int64").values
        ).all()
        assert (g.valid_from_us.diff().iloc[1:] > 0).all()


def test_scd2_pit_matches_interval_join(spark, sf_dir):
    """The as-of window formulation must agree with the naive
    interval-containment join (valid_from <= ts < valid_to) computed
    in pandas from the versions table."""
    import numpy as np

    from dissertation_iceberg_spark.functions.time_bins import micros
    from dissertation_iceberg_spark.queries.lakehouse_ops import (
        scd2_pit_join,
        scd2_versions,
    )

    got = (
        scd2_pit_join(spark, sf_dir)
        .toPandas()
        .set_index("version_no")
        .sort_index()
    )
    dim = scd2_versions(spark, sf_dir).toPandas()
    facts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("fact_cents"),
        )
        .toPandas()
    )
    m = facts.merge(dim, on="user_id")
    hi = m.valid_to_us.fillna(np.iinfo(np.int64).max)
    m = m[(m.us >= m.valid_from_us) & (m.us < hi)]
    want = m.groupby("version_no").agg(
        n_purchases=("fact_cents", "size"), revenue_cents=("fact_cents", "sum")
    )
    assert got["n_purchases"].to_dict() == want["n_purchases"].to_dict()
    assert got["revenue_cents"].to_dict() == want["revenue_cents"].to_dict()


def test_mad_anomaly_invariants(spark, sf_dir):
    """MAD detector invariants on the fixture: the median is a real
    daily count (order statistic, not interpolation), MAD <= max
    deviation, and flagged days never exceed n_days."""
    from dissertation_iceberg_spark.queries.behavior_ops import daily_anomaly_mad

    out = daily_anomaly_mad(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.mad >= 0).all() and (out.mad <= out.max_abs_dev).all()
    assert (out.n_anomalous_days <= out.n_days).all()
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .count()
        .toPandas()
    )
    for _, row in out.iterrows():
        counts = daily[daily.event_type == row.event_type]["count"]
        assert row.median_count in set(counts)  # an actual order statistic
        assert row.n_days == len(counts)


def test_snapshot_diff_consistent_with_time_travel(spark, sf_dir):
    """The diff's key accounting must reconcile with independent
    snapshot reconstructions: |s1| = deleted + changed + unchanged and
    |s2| = added + changed + unchanged."""
    from dissertation_iceberg_spark.queries.lakehouse_ops import (
        _DIFF_T1,
        _DIFF_T2,
        snapshot_diff,
    )
    from dissertation_iceberg_spark.functions.time_bins import micros

    d = (
        snapshot_diff(spark, sf_dir)
        .toPandas()
        .set_index("change")["n_keys"]
        .to_dict()
    )

    def snap_count(cutoff):
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        from pyspark.sql import Window as W

        log = e.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
        w = W.partitionBy("user_id").orderBy(
            F.desc(micros("ts")), F.desc("event_id")
        )
        return (
            log.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .count()
        )

    n1, n2 = snap_count(_DIFF_T1), snap_count(_DIFF_T2)
    assert n1 == d.get("deleted", 0) + d.get("changed", 0) + d.get("unchanged", 0)
    assert n2 == d.get("added", 0) + d.get("changed", 0) + d.get("unchanged", 0)


def test_gdpr_cascade_consistency(spark, sf_dir):
    """The cascade must be internally consistent: lineitem purge rows
    can only come from cohort orders, and every table's purge count is
    bounded by its total row count."""
    from dissertation_iceberg_spark.queries.lakehouse_ops import gdpr_delete_audit

    out = (
        gdpr_delete_audit(spark, sf_dir)
        .toPandas()
        .set_index("tbl")["n_rows_to_purge"]
    )
    for tbl in ["events", "customer", "orders", "lineitem"]:
        total = spark.read.parquet(f"{sf_dir}/{tbl}.parquet").count()
        assert 0 <= out[tbl] <= total
    # a cohort exists at every SF (hash-sampled ~1/16 of 150+ users)
    assert out["events"] > 0


def test_zipf_fit_invariants(spark, sf_dir):
    """Rank-frequency OLS must produce a negative slope (frequency
    falls with rank by construction — ranks are ordered by count
    desc) with r2 in [0, 1], over exactly min(K, vocab) terms."""
    from dissertation_iceberg_spark.queries.text_metrics import (
        _ZIPF_TOPK,
        zipf_slope,
    )

    row = zipf_slope(spark, sf_dir).toPandas().iloc[0]
    assert 0 < row["n_terms"] <= _ZIPF_TOPK
    assert row["zipf_slope"] < 0
    assert 0.0 <= row["r2"] <= 1.0
    # intercept is ln(freq) at rank 1 — must be at least the slope-line
    # value at the largest rank, and positive for any real corpus
    assert row["intercept_ln"] > 0


def test_diversity_ratios_bounded(spark, sf_dir):
    """TTR and trigram diversity are proper ratios; distinct counts
    never exceed totals; trigram count per source is exactly
    sum(max(len-2, 0)) over its docs."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.text_metrics import ngram_diversity

    out = ngram_diversity(spark, sf_dir).toPandas().set_index("source")
    assert len(out) > 0
    assert ((out["ttr"] > 0) & (out["ttr"] <= 1)).all()
    assert (
        (out["trigram_diversity"] > 0) & (out["trigram_diversity"] <= 1)
    ).all()
    assert (out["n_distinct_unigrams"] <= out["n_unigrams"]).all()
    assert (out["n_distinct_trigrams"] <= out["n_trigrams"]).all()
    expected = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.greatest(
                F.size(F.filter(F.split("text", " "), lambda x: x != "")) - 2,
                F.lit(0),
            ).alias("k"),
        )
        .groupBy("source")
        .agg(F.sum("k").alias("n_tri"))
        .toPandas()
        .set_index("source")["n_tri"]
    )
    for src, n in expected.items():
        assert out.loc[src, "n_trigrams"] == n


def test_char_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(alphabet size) — the uniform-distribution cap —
    for every source."""
    import numpy as np

    from dissertation_iceberg_spark.queries.text_metrics import char_entropy

    out = char_entropy(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["entropy_nats"] >= 0).all()
    cap = np.log(out["n_distinct_chars"].astype("float64")) + 1e-6
    assert (out["entropy_nats"] <= cap).all()


def test_oriented_triangle_count_matches_baseline(spark, sf_dir):
    """Degree-ordered orientation must count exactly the same
    triangles as the id-ordered baseline, and its wedge fan-out cap
    (max out-degree) can never exceed the raw max degree."""
    from dissertation_iceberg_spark.queries.graph_ops import (
        triangle_count,
        triangle_count_oriented,
    )

    base = triangle_count(spark, sf_dir).toPandas().iloc[0]
    orient = triangle_count_oriented(spark, sf_dir).toPandas().iloc[0]
    assert orient["n_triangles"] == base["n_triangles"]
    assert orient["n_edges"] == base["n_edges"]
    assert orient["max_out_degree"] <= orient["max_degree"]


def test_tdigest_centroid_invariants(spark, sf_dir):
    """The deterministic t-digest must (a) conserve mass and sum,
    (b) produce at most K non-overlapping value ranges in centroid
    order, (c) resolve the tails finer than the middle (the k1-scale
    property), and (d) read back extreme quantiles with rank error
    below 1/K (tails) / 2/K (median)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _TD_K,
        tdigest_centroids,
    )
    from pyspark.sql import functions as F

    td = (
        tdigest_centroids(spark, sf_dir)
        .toPandas()
        .sort_values("centroid")
        .reset_index(drop=True)
    )
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("s"),
    ).collect()[0]
    assert len(td) <= _TD_K
    assert td["n"].sum() == exact["n"]
    assert td["sum_cents"].sum() == exact["s"]
    # ordered, non-overlapping value ranges
    assert (td["lo_cents"] <= td["hi_cents"]).all()
    assert (td["hi_cents"].to_numpy()[:-1] <= td["lo_cents"].to_numpy()[1:]).all()
    # tail resolution: extreme centroids hold fewer points than the
    # median-coverage centroid
    mid = td.iloc[(td["centroid"] - _TD_K // 2).abs().idxmin()]["n"]
    assert td.iloc[0]["n"] < mid and td.iloc[-1]["n"] < mid
    # quantile readout: pick the centroid covering rank q*N, compare
    # its mean against the exact empirical quantile by RANK error
    vals = np.sort(
        li.select(F.col("l_extendedprice").alias("v")).toPandas()["v"].to_numpy()
    )
    cum = td["n"].cumsum().to_numpy()
    N = int(td["n"].sum())
    for q, tol in [(0.01, 1 / _TD_K), (0.5, 2 / _TD_K), (0.99, 1 / _TD_K)]:
        i = int(np.searchsorted(cum, q * N))
        est = td["mean_price"].iloc[min(i, len(td) - 1)]
        rank_err = abs(np.searchsorted(vals, est * 1.0) - q * N) / N
        assert rank_err <= tol, (q, rank_err, tol)


def test_weighted_reservoir_bias_and_stability(spark, sf_dir):
    """A-ES sample must (a) be exactly K rows, (b) favor heavy rows —
    sample mean weight above population mean — and (c) be a pure
    function of content: identical under any repartitioning."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _WRES_K,
        weighted_reservoir_sample,
    )
    from pyspark.sql import functions as F

    out = weighted_reservoir_sample(spark, sf_dir).toPandas()
    assert len(out) == _WRES_K
    pop_mean = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.avg(F.round("l_quantity")).alias("m"))
        .collect()[0]["m"]
    )
    assert out["w"].mean() > pop_mean, (out["w"].mean(), pop_mean)
    # partitioning invariance: same priorities from a different layout
    li = load_table(spark, sf_dir, "lineitem").repartition(13, "l_suppkey")
    li.createOrReplaceTempView("__wres_alt")
    again = weighted_reservoir_sample(spark, sf_dir).toPandas()
    key = ["l_orderkey", "l_linenumber", "priority"]
    assert out[key].sort_values(key).reset_index(drop=True).equals(
        again[key].sort_values(key).reset_index(drop=True)
    )


def test_attribution_kernels_reconcile(spark, sf_dir):
    """The three attribution kernels must agree on the touch universe:
    time-decay and U-shape see identical per-type touch counts (same
    lookback join), decay credit is bounded by n_touches micro-units
    (w <= 1e6 per touch), and shares sum to 1."""
    from dissertation_iceberg_spark.queries.behavior_ops import (
        position_attribution,
        timedecay_attribution,
    )

    td = timedecay_attribution(spark, sf_dir).toPandas().set_index("touch_type")
    pos = position_attribution(spark, sf_dir).toPandas().set_index("touch_type")
    assert set(td.index) == set(pos.index)
    for ty in td.index:
        assert td.loc[ty, "n_touches"] == pos.loc[ty, "n_touches"]
        assert 0 < td.loc[ty, "decay_credit_micro"] <= td.loc[ty, "n_touches"] * 1_000_000
    assert abs(td["credit_share"].sum() - 1.0) < 1e-5


def test_km_survival_monotone_and_bounded(spark, sf_dir):
    """Kaplan-Meier invariants: survival starts ≤ 1, never increases,
    at-risk counts telescope exactly by d + c."""
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    km = (
        REGISTRY["kaplan_meier"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("t_day")
        .reset_index(drop=True)
    )
    assert (km.surv <= 1.0 + 1e-9).all()
    assert (km.surv.diff().dropna() <= 1e-9).all(), "survival must not rise"
    expected_next = km.n_risk - km.n_event - km.n_censored
    assert (expected_next.iloc[:-1].values == km.n_risk.iloc[1:].values).all()


def test_risk_battery_consistency(spark, sf_dir):
    """CVaR is at least as severe as VaR (mean of the tail ≤ its max);
    max drawdown is nonnegative and ≥ |final - peak| implied bound."""
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    vc = REGISTRY["var_cvar"].fn(spark, sf_dir).toPandas().iloc[0]
    assert vc.cvar_95 <= vc.var_95 + 1e-9
    md = REGISTRY["max_drawdown"].fn(spark, sf_dir).toPandas().iloc[0]
    assert md.max_drawdown >= -1e-9


def test_auc_complement_symmetry(spark, sf_dir):
    """Swapping the positive and negative classes must give 1 − AUC
    (the rank-sum identity's mirror)."""
    from dissertation_iceberg_spark.functions.ranks import (
        bucketed_exclusive_cumsums,
    )
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from dissertation_iceberg_spark.queries.stats_tests import _NEG, _POS

    _ensure_loaded()
    auc = REGISTRY["roc_auc"].fn(spark, sf_dir).toPandas().iloc[0]

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_POS, _NEG)
    )
    dv = e.groupBy("value").agg(
        F.count(F.lit(1)).alias("lj"),
        F.sum(F.when(F.col("event_type") == _NEG, 1).otherwise(0)).alias("f1"),
    )
    cum = bucketed_exclusive_cumsums(dv, "value", ["lj"])
    avg_rank = F.col("cum_lj") + (F.col("lj") + 1) / 2.0
    agg = cum.agg(
        F.sum(F.col("f1") * avg_rank).alias("r1"),
        F.sum("f1").alias("n1"),
        F.sum(F.col("lj") - F.col("f1")).alias("n2"),
    ).toPandas().iloc[0]
    auc_swapped = (agg.r1 - agg.n1 * (agg.n1 + 1) / 2.0) / (agg.n1 * agg.n2)
    assert abs((1.0 - auc_swapped) - auc.auc) < 1e-6
    assert abs(auc.gini - (2 * auc.auc - 1)) < 1e-6


def test_gini_hhi_bounds(spark, sf_dir):
    """Gini ∈ [0, 1); every per-nation HHI ∈ [1/n_suppliers, 1]."""
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    g = REGISTRY["gini_concentration"].fn(spark, sf_dir).toPandas().iloc[0]
    assert 0.0 <= g.gini < 1.0
    hhi = REGISTRY["market_concentration_hhi"].fn(spark, sf_dir).toPandas()
    assert ((hhi.hhi >= 1.0 / hhi.n_suppliers - 1e-6) & (hhi.hhi <= 1.0 + 1e-6)).all()


def test_psi_antisymmetry(spark, sf_dir):
    """PSI is symmetric under swapping reference/current periods (each
    term flips both factors' signs), so the total is period-order
    invariant; and every per-bin count pair must cover all events."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    psi = REGISTRY["psi_drift"].fn(spark, sf_dir).toPandas()
    n_events = load_table(spark, sf_dir, "events").count()
    assert int(psi.n_ref.sum() + psi.n_cur.sum()) == n_events
    assert (psi.psi_total >= -1e-9).all()
    assert psi.psi_total.nunique() == 1


def test_chi2_zero_on_independent_margins(spark, sf_dir):
    """The chi-square kernel must return ~0 when fed a perfectly
    independent synthetic contingency (obs = rt*ct/n for every cell)."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(r, c, 10 * (r + 1) * (c + 1)) for r in range(3) for c in range(4)],
        columns=["r", "c", "obs"],
    )
    cell = spark.createDataFrame(pdf)
    rt = cell.groupBy("r").agg(F.sum("obs").alias("r_tot"))
    ct = cell.groupBy("c").agg(F.sum("obs").alias("c_tot"))
    tot = cell.agg(F.sum("obs").alias("n"))
    num = F.col("obs") * F.col("n") - F.col("r_tot") * F.col("c_tot")
    chi2 = (
        cell.join(rt, "r")
        .join(ct, "c")
        .crossJoin(tot)
        .agg(
            F.sum(
                num.cast("double")
                * num.cast("double")
                / (F.col("n").cast("double") * F.col("r_tot") * F.col("c_tot"))
            ).alias("chi2")
        )
        .toPandas()
        .iloc[0]
        .chi2
    )
    assert abs(chi2) < 1e-9


def test_kneser_ney_probabilities_normalize(spark, sf_dir):
    """For every observed context w1, Σ_w2 P_KN(w2|w1) over OBSERVED
    continuations must be ≤ 1 (the leftover mass backs off to unseen
    words) and > 0."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators import text as tx
    from dissertation_iceberg_spark.queries.corpus_ops import _KN_D

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(tx.tokens(F.col("text")).alias("toks"))
    pairs = base.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("pair")
    )
    pc = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.split(F.col("pair"), " ").getItem(0)
    w2 = F.split(F.col("pair"), " ").getItem(1)
    ctx = pc.groupBy(w1.alias("w1")).agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = pc.groupBy(w2.alias("w2")).agg(F.count(F.lit(1)).alias("n1p_rev"))
    types = pc.agg(F.count(F.lit(1)).alias("n_types"))
    p = (
        pc.join(ctx, w1 == F.col("w1"))
        .join(cont, w2 == F.col("w2"))
        .crossJoin(types)
        .select(
            "w1",
            (
                (F.col("c2") - F.lit(_KN_D)) / F.col("c1")
                + F.lit(_KN_D)
                * F.col("n1p_fwd")
                / F.col("c1")
                * (F.col("n1p_rev").cast("double") / F.col("n_types"))
            ).alias("p"),
        )
    )
    sums = p.groupBy("w1").agg(F.sum("p").alias("mass")).toPandas()
    assert (sums.mass > 0).all()
    assert (sums.mass <= 1.0 + 1e-9).all()


def test_bpe_greedy_merge_overlap_semantics(spark):
    """Greedy left-to-right BPE merge: [a a a] -> [a_a, a] (first match
    wins, second overlapping match skipped), runs of even length merge
    fully, and boundaries never match across documents."""
    from dissertation_iceberg_spark.queries.corpus_ops import _bpe_merge_once

    seq = spark.createDataFrame(
        [
            (0, ["a", "a", "a", "b", "c"]),
            (1, ["a", "a", "b", "a", "a"]),
            (2, ["x"]),
            (3, ["a", "a", "a", "a"]),
        ],
        "doc_id long, toks array<string>",
    )
    best, merged = _bpe_merge_once(seq)
    b = best.toPandas().iloc[0]
    assert (b.a, b.b) == ("a", "a") and b.n_pairs == 7
    got = {
        r.doc_id: list(r.toks)
        for r in merged.collect()
    }
    assert got[0] == ["a_a", "a", "b", "c"]
    assert got[1] == ["a_a", "b", "a_a"]
    assert 2 not in got or got[2] == ["x"]  # single-token doc: no pairs
    assert got[3] == ["a_a", "a_a"]


# --------------------------------------------------------------------------
# Round-3 seventh-session additions: linear-algebra / robust-stats props
# --------------------------------------------------------------------------


def test_pca_matches_numpy_replay(spark, sf_dir):
    """pca_power_iteration is the distributed twin of an independent
    single-node numpy replay of the SAME integer iteration (exact
    floor-div semantics), and its variance share respects the Rayleigh
    bound share <= lambda_max / trace from numpy's exact eigh. (The
    synthetic embeddings have a nearly flat spectrum — lambda1/lambda2
    ~ 1.07 — so eigen-CONVERGENCE in 3 steps is not a property of any
    correct implementation; exact replay is the right pin.)"""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.extensions import (
        PCA_ITERS,
        PCA_VSCALE,
        pca_power_iteration,
    )

    rows = pca_power_iteration(spark, sf_dir).orderBy("pos").collect()
    v_spark = np.array([r["pc1_component"] for r in rows])
    share = rows[0]["variance_share"]

    emb = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    q = np.round(emb * 1e4).astype(np.int64)
    n = q.shape[0]
    m = (2 * q.sum(axis=0) + n) // (2 * n)  # floor-div round-half-up
    y = q - m
    g = y.T @ y
    v = np.full(64, PCA_VSCALE, dtype=np.int64)
    for _ in range(PCA_ITERS):
        w = g @ v
        t = max(int(np.max(np.abs(w))) // PCA_VSCALE, 1)
        v = w // t  # numpy // floors, matching the portable fd
    unit = v / np.sqrt(float(v @ v))
    assert np.allclose(v_spark, np.round(unit * 1e6) / 1e6, atol=2e-6)

    evals = np.linalg.eigvalsh(g.astype(np.float64))
    assert 0 < share <= evals[-1] / np.trace(g) + 1e-6


def test_ledoit_wolf_matches_numpy(spark, sf_dir):
    """ledoit_wolf_cov's shrinkage intensity and shrunk matrix agree
    with a direct numpy evaluation of the LW2004 formulas on the same
    integer daily-cents grid."""
    import numpy as np
    import pandas as pd

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.econometrics import (
        ledoit_wolf_cov,
    )

    out = ledoit_wolf_cov(spark, sf_dir).toPandas()

    e = load_table(spark, sf_dir, "events").toPandas()
    e["day"] = pd.to_datetime(e["ts"]).dt.floor("d")
    e["c"] = (e["value"] * 100).round().astype("int64")
    grid = (
        e.groupby(["day", "event_type"])["c"]
        .sum()
        .unstack(fill_value=0)
        .sort_index(axis=1)
    )
    x = grid.to_numpy(dtype=np.float64)
    t, k = x.shape
    d = x - x.mean(axis=0)
    s = d.T @ d / t
    mu = np.trace(s) / k
    d2 = ((s - mu * np.eye(k)) ** 2).sum() / k
    b2bar = sum(((np.outer(r, r) - s) ** 2).sum() for r in d) / (k * t * t)
    shrink = min(b2bar, d2) / d2
    sh = out.set_index(["type_a", "type_b"])
    cols = list(grid.columns)
    for i, ta in enumerate(cols):
        for j, tb in enumerate(cols):
            row = sh.loc[(ta, tb)]
            assert abs(row["cov_sample"] - s[i, j] / 1e4) < max(
                1e-4, abs(s[i, j]) * 1e-6
            )
            assert abs(row["shrinkage"] - shrink) < 1e-5


def test_huber_bounds_outlier_influence(spark, sf_dir):
    """Injecting one gross price outlier moves the Huber slope far
    less than the OLS slope — the bounded-influence property that
    motivates the estimator."""
    import pandas as pd

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries import registry

    fn = registry.all_queries()["huber_regression"]
    base = fn(spark, sf_dir).collect()[0]

    li = load_table(spark, sf_dir, "lineitem")
    spike = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_orderkey": [999_999_999],
                "l_linenumber": [1],
                "l_quantity": [50.0],
                "l_extendedprice": [5e9],
            }
        )
    )
    poisoned = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).unionByName(spike)

    import dissertation_iceberg_spark.queries.regression as rg
    from unittest import mock

    with mock.patch.object(rg, "load_table", lambda s, d, n: poisoned):
        pois = rg.huber_regression(spark, sf_dir).collect()[0]

    ols_move = abs(pois["beta1_ols"] - base["beta1_ols"])
    huber_move = abs(pois["beta1_huber"] - base["beta1_huber"])
    assert huber_move < ols_move / 10


def test_conformal_coverage_guarantee(spark, sf_dir):
    """Split-conformal coverage on the held-out test split respects
    the finite-sample guarantee (>= 1 - alpha - slack for the modest
    test-split size)."""
    from dissertation_iceberg_spark.queries import registry

    row = registry.all_queries()["conformal_interval"](spark, sf_dir).collect()[0]
    n_test = row["n_test"]
    slack = 3.0 * (0.1 * 0.9 / n_test) ** 0.5  # ~3 sigma binomial
    assert row["coverage"] >= 0.9 - slack
    assert row["q_hat_cents"] > 0


def test_bh_qvalues_monotone_and_bounded(spark, sf_dir):
    """BH q-values are monotone nondecreasing in the p-value rank,
    within [0, 1], and every rejected hypothesis has q <= alpha."""
    from dissertation_iceberg_spark.queries import registry

    rows = (
        registry.all_queries()["bh_fdr_battery"](spark, sf_dir)
        .orderBy("p_rank")
        .collect()
    )
    qs = [r["q_value"] for r in rows]
    assert all(0 <= q <= 1 for q in qs)
    assert all(a <= b + 1e-9 for a, b in zip(qs, qs[1:]))
    for r in rows:
        if r["rejected"]:
            assert r["q_value"] <= 0.05 + 1e-9


def test_spearman_matrix_properties(spark, sf_dir):
    """Spearman matrix is symmetric with a unit diagonal and values
    in [-1, 1]."""
    from dissertation_iceberg_spark.queries import registry

    rows = registry.all_queries()["spearman_matrix"](spark, sf_dir).collect()
    m = {(r["type_a"], r["type_b"]): r["spearman_rho"] for r in rows}
    for (a, b), v in m.items():
        assert -1 - 1e-9 <= v <= 1 + 1e-9
        assert abs(v - m[(b, a)]) < 1e-9
        if a == b:
            assert abs(v - 1.0) < 1e-9


def test_quantile_normalize_concentrates_sources(spark, sf_dir):
    """Quantile normalization pulls per-source means toward the pooled
    distribution: the cross-source spread of mean_qnorm is strictly
    smaller than the spread of mean_raw, and total mass is approximately
    conserved (sources sample the same pooled distribution, so totals
    drift only by discretization at the rank mapping)."""
    import statistics

    from dissertation_iceberg_spark.queries import registry

    rows = registry.all_queries()["quantile_normalize_sources"](
        spark, sf_dir
    ).collect()
    raw = [r["mean_raw"] for r in rows]
    qn = [r["mean_qnorm"] for r in rows]
    assert statistics.pstdev(qn) < statistics.pstdev(raw)
    tot_raw = sum(r["sum_raw"] for r in rows)
    tot_qn = sum(r["sum_qnorm"] for r in rows)
    assert abs(tot_qn - tot_raw) < 0.05 * tot_raw


def test_shapley_efficiency_identity(spark, sf_dir):
    """Exact Shapley credits satisfy the efficiency axiom: they sum to
    v(grand coalition) - v(empty) (v(empty) := 0), reproduced
    independently from the journey masks."""
    from dissertation_iceberg_spark.queries import registry

    rows = registry.all_queries()["shapley_attribution"](spark, sf_dir).collect()
    total_phi = sum(r["shapley_value"] for r in rows)

    import pandas as pd

    from dissertation_iceberg_spark.io import load_table

    e = load_table(spark, sf_dir, "events").toPandas()
    e = e.sort_values(["user_id", "ts", "event_id"])
    e["journey"] = (
        (e["event_type"] == "purchase")
        .groupby(e["user_id"])
        .transform(lambda s: s.shift(1, fill_value=False).cumsum())
    )
    grp = e.groupby(["user_id", "journey"])
    conv = grp["event_type"].apply(lambda s: (s == "purchase").any())
    chans = grp["event_type"].apply(
        lambda s: frozenset(x for x in s if x != "purchase")
    )
    allch = sorted(set().union(*chans))
    full = frozenset(allch)
    mask_full = (chans == full) & (chans != frozenset())
    v_grand = conv[mask_full].mean() if mask_full.any() else 0.0
    v_grand_micro = round(v_grand * 1e6) / 1e6
    assert abs(total_phi - v_grand_micro) < 1e-3


def test_markov_attribution_shares_normalize(spark, sf_dir):
    """Markov removal-effect shares are nonnegative and sum to 1, and
    every removal can only reduce conversion probability."""
    from dissertation_iceberg_spark.queries import registry

    rows = registry.all_queries()["markov_attribution"](spark, sf_dir).collect()
    shares = [r["attribution_share"] for r in rows]
    assert all(s >= 0 for s in shares)
    assert abs(sum(shares) - 1.0) < 1e-4
    for r in rows:
        assert r["p_conv_removed"] <= r["p_conv_base"] + 1e-9


# --------------------------------------------------------------------------
# Round-3 ninth-session additions: distribution fits, change points,
# shrinkage, nearest-join, edit-distance verify, file skipping
# --------------------------------------------------------------------------


def test_zipf_fit_matches_numpy_replay(spark, sf_dir):
    """zipf_fit equals an independent numpy replay of the same
    quantized-log Gram arithmetic, and every language's slope is
    negative (frequency falls with rank)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        _LOG_SCALE,
        zipf_fit,
    )

    got = {r["lang"]: r for r in zipf_fit(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    from collections import Counter

    by_lang: dict[str, Counter] = {}
    for r in docs:
        by_lang.setdefault(r["lang"], Counter()).update(
            t for t in r["text"].split(" ") if t
        )
    for lang, counts in by_lang.items():
        ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        xq = np.array(
            [round(np.log(i + 1) * _LOG_SCALE) for i in range(len(ordered))],
            dtype=np.int64,
        )
        yq = np.array(
            [round(np.log(c) * _LOG_SCALE) for _, c in ordered], dtype=np.int64
        )
        n = len(ordered)
        sx, sy = int(xq.sum()), int(yq.sum())
        sxx, sxy = int((xq * xq).sum()), int((xq * yq).sum())
        slope = (float(n) * sxy - float(sx) * sy) / (
            float(n) * sxx - float(sx) * sx
        )
        want = round(slope * 1e6) / 1e6
        assert got[lang]["zipf_slope"] == want
        assert got[lang]["zipf_slope"] < 0
        assert got[lang]["n_terms"] == n


def test_heaps_curve_invariants(spark, sf_dir):
    """Heaps curve: cum_vocab is non-decreasing, never exceeds
    cum_tokens, and its final value per language is the exact
    vocabulary size."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import heaps_law

    pdf = heaps_law(spark, sf_dir).toPandas().sort_values(["lang", "doc_id"])
    assert (pdf["cum_vocab"] <= pdf["cum_tokens"]).all()
    for lang, grp in pdf.groupby("lang"):
        assert grp["cum_vocab"].is_monotonic_increasing
        assert grp["cum_tokens"].is_monotonic_increasing
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    vocab: dict[str, set] = {}
    for r in docs:
        vocab.setdefault(r["lang"], set()).update(
            t for t in r["text"].split(" ") if t
        )
    finals = pdf.groupby("lang")["cum_vocab"].max()
    for lang, v in vocab.items():
        assert finals[lang] == len(v)


def test_good_turing_mass_identity(spark, sf_dir):
    """Count-of-counts partition the corpus: sum(r * N_r) equals the
    total token count, and every defined adjusted count is positive."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import good_turing

    pdf = good_turing(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    n_tokens = sum(len([t for t in r["text"].split(" ") if t]) for r in docs)
    assert int((pdf["r"] * pdf["n_r"]).sum()) == n_tokens
    defined = pdf["r_star"].dropna()
    assert (defined > 0).all()


def test_pettitt_statistic_invariants(spark, sf_dir):
    """Pettitt: U_n = 0 at the last day (rank-sum identity), exactly
    one change point is flagged, and K = max|U_t| matches the curve."""
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        pettitt_changepoint,
    )

    pdf = pettitt_changepoint(spark, sf_dir).toPandas().sort_values("day")
    assert int(pdf.iloc[-1]["u_t"]) == 0
    assert int(pdf["is_changepoint"].sum()) == 1
    assert int(pdf["u_t"].abs().max()) == int(pdf["k_stat"].iloc[0])
    cp = pdf[pdf["is_changepoint"] == 1].iloc[0]
    assert abs(int(cp["u_t"])) == int(cp["k_stat"])


def test_cusum_bridge_invariants(spark, sf_dir):
    """CUSUM bridge: ends at exactly 0 (deviations sum to zero by
    construction), exactly one change point, K matches the curve."""
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        cusum_changepoint,
    )

    pdf = cusum_changepoint(spark, sf_dir).toPandas().sort_values("day")
    assert pdf.iloc[-1]["bridge"] == 0
    assert int(pdf["is_changepoint"].sum()) == 1
    assert pdf["bridge"].abs().max() == pdf["k_stat"].iloc[0]


def test_eb_shrinkage_pulls_toward_prior_mean(spark, sf_dir):
    """Posterior means sit strictly between the raw rate and the prior
    mean alpha/(alpha+beta) (within display rounding), and shrinkage
    preserves rate order among users with equal exposure."""
    from dissertation_iceberg_spark.queries.behavior_ops import eb_rate_shrinkage

    pdf = eb_rate_shrinkage(spark, sf_dir).toPandas()
    a, b = pdf["prior_alpha"].iloc[0], pdf["prior_beta"].iloc[0]
    prior_mean = a / (a + b)
    eps = 1e-6  # display grain
    for r in pdf.itertuples():
        lo, hi = sorted((r.raw_rate, prior_mean))
        assert lo - eps <= r.shrunk_rate <= hi + eps
    for n, grp in pdf.groupby("n_events"):
        g = grp.sort_values(["raw_rate", "user_id"])
        assert g["shrunk_rate"].is_monotonic_increasing
    assert ((pdf["shrunk_rate"] >= 0) & (pdf["shrunk_rate"] <= 1)).all()


def test_nearest_event_join_matches_pandas(spark, sf_dir):
    """nearest_event_join equals a per-user pandas replay (bisect over
    the user's click times; ties to backward), including the
    equal-microsecond click counting as 'prev'."""
    import bisect

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.intervals import nearest_event_join

    from dissertation_iceberg_spark.functions.time_bins import micros

    got = nearest_event_join(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", micros("ts").alias("us"))
        .toPandas()
    )
    clicks: dict[int, list[int]] = {}
    for r in ev[ev["event_type"] == "click"].itertuples():
        clicks.setdefault(r.user_id, []).append(r.us)
    for v in clicks.values():
        v.sort()
    purchases = ev[ev["event_type"] == "purchase"].set_index("event_id")
    assert len(got) == len(purchases)
    for r in got.itertuples():
        us = purchases.loc[r.event_id, "us"]
        cl = clicks.get(r.user_id, [])
        i = bisect.bisect_right(cl, us)
        prev = cl[i - 1] if i > 0 else None
        nxt = cl[i] if i < len(cl) else None
        if prev is None and nxt is None:
            assert r.direction == "none"
            continue
        want_prev = None if prev is None else us - prev
        want_next = None if nxt is None else nxt - us
        assert (pd.isna(r.prev_dus) and want_prev is None) or (
            r.prev_dus == want_prev
        )
        assert (pd.isna(r.next_dus) and want_next is None) or (
            r.next_dus == want_next
        )
        if want_prev is not None and (want_next is None or want_prev <= want_next):
            assert r.direction == "prev" and r.nearest_dus == want_prev
        else:
            assert r.direction == "next" and r.nearest_dus == want_next


def test_edit_distance_matches_dp_replay(spark, sf_dir):
    """Spark's levenshtein agrees with a textbook DP on the emitted
    candidate pairs, and edit_dist == 0 exactly for identical texts.
    The registered unit is BYTES over UTF-8 (round-7 unicode fuzz), so
    the replay runs on the encoded byte sequences — identical to the
    codepoint replay on this ASCII fixture, byte-exact beyond it."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.llm_ops import edit_distance_verify

    got = edit_distance_verify(spark, sf_dir).toPandas()
    assert len(got) > 0
    texts = dict(
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    sample = got.sort_values(["id_a", "id_b"]).head(10)
    for r in sample.itertuples():
        want = lev(
            texts[r.id_a].encode("utf-8"), texts[r.id_b].encode("utf-8")
        )
        assert r.edit_dist == want
        assert (r.edit_dist == 0) == (texts[r.id_a] == texts[r.id_b])


@pytest.mark.slow
def test_edit_distance_verify_length_cap(spark, tmp_path):
    """Near-dup pairs where either side exceeds EDIT_MAX_BYTES skip
    the O(len^2) verify stage on BOTH engines (round-7 cost cap): two
    oversized near-identical docs produce candidates but no verify
    row, while a small duplicate pair still verifies."""
    import duckdb
    import pandas as pd

    from dissertation_iceberg_spark.queries.llm_ops import (
        EDIT_MAX_BYTES,
        edit_distance_verify,
    )
    from dissertation_iceberg_spark.queries.registry import REGISTRY

    big = " ".join(f"tok{i}" for i in range(12_000))
    assert len(big.encode("utf-8")) > EDIT_MAX_BYTES
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [big, big + " tail", "small dup text here",
                     "small dup text here"],
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": [len(big), len(big) + 5, 19, 19],
        }
    )
    d = tmp_path / "capfix"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet", index=False)
    # the oversized pair IS a near-dup candidate (cap is what drops it)
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators import dedup as dd
    from dissertation_iceberg_spark.queries.llm_ops import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        MAX_SHINGLE_FREQ,
    )

    cand = dd.jaccard_near_dup_pairs(
        load_table(spark, str(d), "documents"), "text", "doc_id",
        n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).toPandas()
    assert (1, 2) in set(zip(cand.id_a, cand.id_b))
    got = edit_distance_verify(spark, str(d)).toPandas()
    assert set(zip(got.id_a, got.id_b)) == {(3, 4)}
    con = duckdb.connect()
    con.register("documents", docs)
    oracle = con.execute(REGISTRY["edit_distance_verify"].oracle).df()
    assert set(zip(oracle.id_a, oracle.id_b)) == {(3, 4)}


def test_file_skipping_matches_pandas_replay(spark, sf_dir):
    """file_skipping_stats equals a pandas replay of the zone-map
    audit, and row totals cover the whole table for every predicate."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.lakehouse_ops import (
        _FILE_KEYS,
        _SKIP_PREDS,
        file_skipping_stats,
    )

    got = (
        file_skipping_stats(spark, sf_dir).toPandas().set_index("pred_id")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") / _FILE_KEYS).cast("long").alias("file_id"),
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("ship_day"),
            F.round("l_quantity").cast("long").alias("qty"),
        )
        .toPandas()
    )
    stats = li.groupby("file_id").agg(
        n_rows=("ship_day", "size"),
        ship_lo=("ship_day", "min"),
        ship_hi=("ship_day", "max"),
        qty_lo=("qty", "min"),
        qty_hi=("qty", "max"),
    )
    for pid, col, lo, hi in _SKIP_PREDS:
        lo_c, hi_c = (
            ("ship_lo", "ship_hi") if col == "ship_day" else ("qty_lo", "qty_hi")
        )
        skipped = (stats[hi_c] < lo) | (stats[lo_c] > hi)
        row = got.loc[pid]
        assert row["n_files"] == len(stats)
        assert row["n_files_skipped"] == int(skipped.sum())
        assert row["n_rows_total"] == len(li)
        assert row["n_rows_skipped"] == int(stats.loc[skipped, "n_rows"].sum())


def test_frequent_sequences_mass_identity(spark, sf_dir):
    """Trigram occurrences partition the stream: sum(n_occurrences)
    equals sum over users of max(0, n_u - 2), and support shares are
    valid probabilities."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import frequent_sequences

    pdf = frequent_sequences(spark, sf_dir).toPandas()
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .toPandas()["count"]
    )
    want = int((counts - 2).clip(lower=0).sum())
    assert int(pdf["n_occurrences"].sum()) == want
    assert ((pdf["user_support"] > 0) & (pdf["user_support"] <= 1)).all()


def test_prefix_filter_equals_full_index_at_threshold(spark, sf_dir):
    """Prefix filtering is EXACT: its output equals the full
    inverted-index Jaccard join filtered to the same threshold —
    the no-false-negatives guarantee of the prefix bound, and no
    false positives survive verification."""
    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.operators import dedup as dd
    from dissertation_iceberg_spark.queries.llm_ops import (
        JACCARD_N,
        PREFIX_JACCARD_THRESHOLD,
        prefix_filter_near_dups,
    )

    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["jaccard"])
        for r in prefix_filter_near_dups(spark, sf_dir).collect()
    }
    docs = spread(load_table(spark, sf_dir, "documents"))
    full = dd.jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=JACCARD_N, threshold=0.0
    )
    want = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["jaccard"])
        for r in full.filter(
            full["jaccard"] >= PREFIX_JACCARD_THRESHOLD
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_holt_forecast_matches_python_replay(spark, sf_dir):
    """holt_linear_forecast equals a pure-Python replay of the
    shift-based recursion on each type's ordered daily counts."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        holt_linear_forecast,
    )

    got = {r["event_type"]: r for r in holt_linear_forecast(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["count"]))
    for et, s in series.items():
        s.sort()
        l, b = s[0][1], 0
        for _, y in s[1:]:
            l_new = (y + l + b) >> 1
            b = (l_new - l + b) >> 1
            l = l_new
        assert got[et]["n_days"] == len(s)
        assert got[et]["level"] == l
        assert got[et]["trend"] == b
        assert got[et]["forecast_next"] == l + b


def test_label_propagation_invariants(spark, sf_dir):
    """LPA: every node appears exactly once, community labels are
    node ids from the graph, and community_size matches the actual
    per-label row count."""
    from dissertation_iceberg_spark.queries.graph_ops import (
        label_propagation_communities,
    )

    pdf = label_propagation_communities(spark, sf_dir).toPandas()
    enc = pdf.apply(
        lambda r: int(r["node_key"]) * 2
        + (0 if r["node_type"] == "part" else 1),
        axis=1,
    )
    assert enc.is_unique
    nodes = set(enc)
    assert set(pdf["community"]) <= nodes
    sizes = pdf.groupby("community").size()
    for r in pdf.itertuples():
        assert sizes[r.community] == r.community_size


def test_item_cf_topk_matches_pandas_replay(spark, sf_dir):
    """item_cf_topk equals a pandas replay: co-occurrence counts from
    the distinct (order, part) frame, cosine n_ab/sqrt(n_a*n_b)
    micro-rounded, per-item top-k with (cosine desc, rec asc)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        _CF_TOPK,
        item_cf_topk,
    )

    pdf = item_cf_topk(spark, sf_dir).toPandas()
    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    marg = assoc.groupby("l_partkey").size()
    m = assoc.merge(assoc, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    both = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    want = {}
    for (a, b), n in both.items():
        cos = float(np.round(n / np.sqrt(marg[a] * marg[b]) * 1e6)) / 1e6
        want.setdefault(a, []).append((-cos, b, n))
        want.setdefault(b, []).append((-cos, a, n))
    got = {
        item: [
            (r.rec, r.n_both, r.cosine)
            for r in g.sort_values("rnk").itertuples()
        ]
        for item, g in pdf.groupby("item")
    }
    for item, cands in want.items():
        cands.sort()
        top = [(b, n, -negc) for negc, b, n in cands[:_CF_TOPK]]
        assert got[item] == top, item
    assert set(got) == set(want)
    assert (pdf.groupby("item")["rnk"].min() == 1).all()


def test_woe_iv_matches_python_replay(spark, sf_dir):
    """woe_iv_encoding equals a pure-Python replay of the smoothed
    WOE/IV formulas, and iv_total is the exact sum of the micro-
    rounded iv terms."""
    import math

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests import woe_iv_encoding

    pdf = woe_iv_encoding(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    pos_tot = int((o["o_orderstatus"] == "F").sum())
    neg_tot = len(o) - pos_tot
    k = o["o_orderpriority"].nunique()
    iv_micro_sum = 0
    for r in pdf.itertuples():
        assert r.n == r.n_pos + r.n_neg
        p = (r.n_pos + 0.5) / (pos_tot + 0.5 * k)
        q = (r.n_neg + 0.5) / (neg_tot + 0.5 * k)
        woe = math.log(p / q)
        assert round(woe * 1e6) / 1e6 == r.woe
        iv = round((p - q) * woe * 1e6)
        assert iv / 1e6 == r.iv_term
        iv_micro_sum += iv
    assert (pdf["iv_total"] == iv_micro_sum / 1e6).all()
    assert len(pdf) == k


def test_decision_stump_matches_pandas_replay(spark, sf_dir):
    """decision_stump equals a pandas replay: full threshold sweep via
    sorted cumulative class counts, nano-rounded weighted Gini,
    (gini, threshold) ranking, top-5."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests import decision_stump

    pdf = decision_stump(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    o["pos"] = (o["o_orderstatus"] == "F").astype("int64")
    dv = (
        o.groupby("cents")["pos"]
        .agg(n="size", n_pos="sum")
        .sort_index()
        .reset_index()
    )
    n_all, p_all = int(dv["n"].sum()), int(dv["n_pos"].sum())
    dv["left_n"] = dv["n"].cumsum()
    dv["left_pos"] = dv["n_pos"].cumsum()
    dv["right_n"] = n_all - dv["left_n"]
    dv["right_pos"] = p_all - dv["left_pos"]
    dv = dv[dv["right_n"] > 0]
    wg = (
        2 * dv["left_pos"] * (dv["left_n"] - dv["left_pos"]) / dv["left_n"]
        + 2
        * dv["right_pos"]
        * (dv["right_n"] - dv["right_pos"])
        / dv["right_n"]
    ) / n_all
    dv["gini_nano"] = np.round(wg * 1e9).astype("int64")
    parent_nano = int(round(2 * p_all * (n_all - p_all) / n_all / n_all * 1e9))
    top = dv.sort_values(["gini_nano", "cents"]).head(5)
    want = [
        (
            r.cents,
            r.left_n,
            r.left_pos,
            r.right_n,
            r.right_pos,
            r.gini_nano / 1e9,
            (parent_nano - r.gini_nano) / 1e9,
        )
        for r in top.itertuples()
    ]
    got = [
        (
            r.split_cents,
            r.left_n,
            r.left_pos,
            r.right_n,
            r.right_pos,
            r.weighted_gini,
            r.gini_gain,
        )
        for r in pdf.sort_values(["weighted_gini", "split_cents"]).itertuples()
    ]
    assert got == want
    assert (pdf["gini_gain"] >= 0).all()


def test_loo_target_encoding_matches_pandas_replay(spark, sf_dir):
    """loo_target_encoding equals the row-level leave-one-out mean
    collapsed to the distinct (category, y) frame."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests import (
        loo_target_encoding,
    )

    pdf = loo_target_encoding(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    o["pos"] = (o["o_orderstatus"] == "F").astype("int64")
    got = {
        (r.priority, r.y): (r.n_rows, r.loo) for r in pdf.itertuples()
    }
    want = {}
    for prio, g in o.groupby("o_orderpriority"):
        n, s = len(g), int(g["pos"].sum())
        if n > 1 and s > 0:
            want[(prio, 1)] = (s, (s - 1) / (n - 1))
        if n > 1 and n - s > 0:
            want[(prio, 0)] = (n - s, s / (n - 1))
    assert got == want


def test_f2_ams_sketch_matches_python_replay(spark, sf_dir):
    """The AMS sketch sums equal a pure-Python replay of the seeded
    md5 sign hashes, estimates are exact squares, the median column is
    the lower median, and exact_f2 matches pandas."""
    from dissertation_iceberg_spark.functions.hashing import hash60_py
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _AMS_DEPTH,
        f2_ams_sketch,
    )

    pdf = f2_ams_sketch(spark, sf_dir).toPandas()
    keys = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .toPandas()["l_partkey"]
    )
    sums = {i: 0 for i in range(1, _AMS_DEPTH + 1)}
    for k in keys:
        for i in range(1, _AMS_DEPTH + 1):
            sums[i] += (hash60_py(f"{i}:{k}") % 2) * 2 - 1
    got = dict(zip(pdf["est_id"], pdf["sketch_sum"]))
    assert got == sums
    assert (pdf["estimate"] == pdf["sketch_sum"] ** 2).all()
    est_sorted = sorted(zip(pdf["estimate"], pdf["est_id"]))
    assert (pdf["median_estimate"] == est_sorted[_AMS_DEPTH // 2 - 1][0]).all()
    f = keys.value_counts()
    assert (pdf["exact_f2"] == int((f * f).sum())).all()


def test_rrf_fusion_self_consistency(spark, sf_dir):
    """Fused RRF scores equal the nano-rounded 1/(60+rank) sum of the
    per-arm rank columns, n_arms counts the non-null ranks, and the
    output is the top-10 by (rrf, item_id)."""
    from dissertation_iceberg_spark.queries.llm_ops import (
        RRF_ARM_K,
        RRF_C,
        RRF_TOP,
        rrf_fusion,
    )

    pdf = rrf_fusion(spark, sf_dir).toPandas()
    assert len(pdf) <= RRF_TOP
    for r in pdf.itertuples():
        ranks = [x for x in (r.bm25_rank, r.cos_rank) if x == x]
        assert r.n_arms == len(ranks) >= 1
        assert all(1 <= x <= RRF_ARM_K for x in ranks)
        nano = sum(round(1e9 / (RRF_C + x)) for x in ranks)
        assert r.rrf == nano / 1e9
    order = pdf.sort_values(
        ["rrf", "item_id"], ascending=[False, True]
    ).reset_index(drop=True)
    assert (order["item_id"] == pdf["item_id"].reset_index(drop=True)).all()


def test_hits_matches_python_replay(spark, sf_dir):
    """hits_scores equals a pure-Python replay of the integer-
    quantized mutual-reinforcement iterations on the exact edge set."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.graph_ops import (
        _HITS_ITERS,
        _HITS_TOPK,
        _SCALE,
        hits_scores,
    )

    pdf = hits_scores(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).toPandas()
    e = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
        ["o_custkey", "l_suppkey"]
    ].drop_duplicates()
    edges = list(e.itertuples(index=False, name=None))
    h = {src: _SCALE for src, _ in edges}
    a = {}
    for _ in range(_HITS_ITERS):
        a = {}
        for src, dst in edges:
            a[dst] = a.get(dst, 0) + h[src]
        mx = max(a.values())
        a = {k: v * _SCALE // mx for k, v in a.items()}
        h = {}
        for src, dst in edges:
            h[src] = h.get(src, 0) + a[dst]
        mx = max(h.values())
        h = {k: v * _SCALE // mx for k, v in h.items()}

    def topk(d):
        return sorted(((-v, k) for k, v in d.items()))[:_HITS_TOPK]

    for side, d in (("authority", a), ("hub", h)):
        got = [
            (r.node_key, r.score_micro, r.rnk)
            for r in pdf[pdf["side"] == side]
            .sort_values("rnk")
            .itertuples()
        ]
        want = [
            (k, -negv, i + 1) for i, (negv, k) in enumerate(topk(d))
        ]
        assert got == want, side


def test_seasonal_decompose_invariants(spark, sf_dir):
    """Seasonal indices from full windows: n_windows <= n_days, the
    weekday day counts partition the series, and the detrended means
    roughly cancel (sum of seasonal * n_windows ~ 0 at the grain of
    the trailing/leading window asymmetry)."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        seasonal_decompose,
    )

    pdf = seasonal_decompose(spark, sf_dir).toPandas()
    n_days = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderdate")
        .distinct()
        .count()
    )
    assert int(pdf["n_days"].sum()) == n_days
    assert (pdf["n_windows"] <= pdf["n_days"]).all()
    assert set(pdf["dow"]) <= set(range(7))
    assert (pdf["mean_cents"] > 0).all()


def test_containment_no_false_negatives_vs_pandas(spark, sf_dir):
    """containment_dups equals a pandas shingle-set replay of
    |A∩B| / min(|A|,|B|) >= threshold over all co-occurring pairs."""
    from itertools import combinations

    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.queries.llm_ops import (
        CONTAINMENT_THRESHOLD,
        JACCARD_N,
        containment_dups,
    )

    pdf = containment_dups(spark, sf_dir).toPandas()
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.containment) for r in pdf.itertuples()
    }
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    ).toPandas()
    sets = {}
    for r in docs.itertuples():
        toks = [t for t in r.text.split(" ") if t]
        sets[r.doc_id] = {
            " ".join(toks[i : i + JACCARD_N])
            for i in range(len(toks) - JACCARD_N + 1)
        }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if not inter:
            continue
        c = round(inter / min(len(sets[a]), len(sets[b])) * 1e6) / 1e6
        if c >= CONTAINMENT_THRESHOLD:
            want[(a, b)] = (inter, c)
    assert got == want
    assert len(got) > 0


def test_brier_decomposition_matches_python_replay(spark, sf_dir):
    """brier_decomposition equals a pure-Python replay of the binned
    Murphy terms, and the aggregate columns are constant and
    consistent with the per-bin terms."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        _CAL_BINS,
        _CAL_SPLIT,
        brier_decomposition,
    )

    pdf = brier_decomposition(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    ).toPandas()
    import pandas as pd

    split = pd.Timestamp(_CAL_SPLIT)
    h = e[e["ts"] < split].groupby("user_id")["event_type"].agg(
        n_ev="size", n_p=lambda s: int((s == "purchase").sum())
    )
    buyers = set(
        e[(e["ts"] >= split) & (e["event_type"] == "purchase")]["user_id"]
    )
    rows = [
        (r.n_p * 1_000_000 // r.n_ev, 1 if uid in buyers else 0)
        for uid, r in h.iterrows()
    ]
    cells = {}
    for s, y in rows:
        b = min(s // (1_000_000 // _CAL_BINS), _CAL_BINS - 1)
        n, sp, sy, sq = cells.get(b, (0, 0, 0, 0))
        cells[b] = (n + 1, sp + s, sy + y, sq + (s - y * 1_000_000) ** 2)
    n_tot = sum(c[0] for c in cells.values())
    y_tot = sum(c[2] for c in cells.values())
    sq_tot = sum(c[3] for c in cells.values())
    obs = y_tot / n_tot
    rel_sum = res_sum = 0
    for r in pdf.itertuples():
        n, sp, sy, _ = cells[r.bin]
        assert r.n_users == n
        assert r.mean_predicted == sp / n / 1e6
        assert r.observed_rate == sy / n
        rel = round(n * (sp / n / 1e6 - sy / n) ** 2 * 1e6)
        res = round(n * (sy / n - obs) ** 2 * 1e6)
        assert r.rel_term == rel / 1e6 and r.res_term == res / 1e6
        rel_sum += rel
        res_sum += res
    assert (pdf["reliability"] == rel_sum / n_tot / 1e6).all()
    assert (pdf["resolution"] == res_sum / n_tot / 1e6).all()
    assert (pdf["uncertainty"] == round(obs * (1.0 - obs) * 1e6) / 1e6).all()
    assert (pdf["brier"] == sq_tot / n_tot / 1e12).all()


def test_tfidf_cosine_matches_pandas_replay(spark, sf_dir):
    """tfidf_cosine_pairs equals a numpy replay: milli-rounded
    tf*ln(N/df) weights, exact integer dots over capped terms, full
    norms, micro-rounded cosine threshold."""
    import math
    from itertools import combinations

    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.queries.llm_ops import (
        TFC_DF_CAP,
        TFC_THRESHOLD,
        tfidf_cosine_pairs,
    )

    pdf = tfidf_cosine_pairs(spark, sf_dir).toPandas()
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.cosine) for r in pdf.itertuples()
    }
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    ).toPandas()
    tfs = {}
    for r in docs.itertuples():
        c = {}
        for t in r.text.split(" "):
            if t:
                c[t] = c.get(t, 0) + 1
        tfs[r.doc_id] = c
    n_docs = len(docs)
    df = {}
    for c in tfs.values():
        for t in c:
            df[t] = df.get(t, 0) + 1
    cap = max(TFC_DF_CAP, n_docs // 20)
    w = {
        d: {
            t: round(tf * math.log(n_docs / df[t]) * 1e3)
            for t, tf in c.items()
        }
        for d, c in tfs.items()
    }
    n2 = {d: sum(x * x for x in ws.values()) for d, ws in w.items()}
    want = {}
    for a, b in combinations(sorted(w), 2):
        shared = [
            t
            for t in w[a]
            if t in w[b] and 2 <= df[t] <= cap
        ]
        if not shared or n2[a] == 0 or n2[b] == 0:
            continue
        dot = sum(w[a][t] * w[b][t] for t in shared)
        cos = round(dot / (math.sqrt(n2[a]) * math.sqrt(n2[b])) * 1e6) / 1e6
        if cos >= TFC_THRESHOLD:
            want[(a, b)] = (len(shared), cos)
    assert got == want
    assert len(got) > 0


def test_textrank_matches_python_replay(spark, sf_dir):
    """textrank_keywords equals a pure-Python replay of the integer
    PageRank iterations on the word-adjacency graph."""
    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.queries.llm_ops import (
        _TR_BASE,
        _TR_DAMP_DEN,
        _TR_DAMP_NUM,
        _TR_ITERS,
        _TR_SCALE,
        _TR_TOPK,
        textrank_keywords,
    )

    pdf = textrank_keywords(spark, sf_dir).toPandas()
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "text"
    ).toPandas()
    und = set()
    for text in docs["text"]:
        toks = [t for t in text.split(" ") if t]
        for x, y in zip(toks, toks[1:]):
            if x != y:
                und.add((min(x, y), max(x, y)))
    edges = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {s: _TR_SCALE for s in deg}
    for _ in range(_TR_ITERS):
        nxt = {}
        for s, d in edges:
            nxt[d] = nxt.get(d, 0) + r[s] // deg[s]
        r = {k: _TR_BASE + (_TR_DAMP_NUM * v) // _TR_DAMP_DEN
             for k, v in nxt.items()}
    want = sorted(((-v, k) for k, v in r.items()))[:_TR_TOPK]
    got = [(r_.term, r_.rank_micro) for r_ in pdf.itertuples()]
    assert got == [(k, -nv) for nv, k in want]


def test_adamic_adar_matches_python_replay(spark, sf_dir):
    """adamic_adar_links equals a pure-Python replay of the weighted
    common-neighbor sum over the co-purchase graph."""
    import math
    from itertools import combinations

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests import (
        _LP_TOPK,
        adamic_adar_links,
    )

    pdf = adamic_adar_links(spark, sf_dir).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas()
    nbrs = {}
    for _, g in li.groupby("l_orderkey"):
        for a, b in combinations(sorted(set(g["l_partkey"])), 2):
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    scores = {}
    for a, b in combinations(sorted(nbrs), 2):
        if b in nbrs[a]:
            continue
        common = nbrs[a] & nbrs[b]
        if not common:
            continue
        aa = sum(round(1e6 / math.log(len(nbrs[z]))) for z in common)
        scores[(a, b)] = (len(common), aa)
    want = sorted(
        ((-aa, -cn, a, b) for (a, b), (cn, aa) in scores.items())
    )[:_LP_TOPK]
    got = [
        (r.part_a, r.part_b, r.common_neighbors, r.aa_micro)
        for r in pdf.itertuples()
    ]
    assert got == [(a, b, -ncn, -naa) for naa, ncn, a, b in want]


def test_simpson_audit_matches_numpy_replay(spark, sf_dir):
    """simpson_paradox_audit slopes equal numpy lstsq slopes per group
    and pooled (at micro-rounding grain), and the flip flag is
    consistent."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests import (
        simpson_paradox_audit,
    )

    pdf = simpson_paradox_audit(spark, sf_dir).toPandas()
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    su = load_table(spark, sf_dir, "supplier").toPandas()
    na = load_table(spark, sf_dir, "nation").toPandas()
    m = li.merge(su, left_on="l_suppkey", right_on="s_suppkey").merge(
        na, left_on="s_nationkey", right_on="n_nationkey"
    )
    m["x"] = m["l_quantity"].astype("int64")
    # half-UP cents like Spark/DuckDB round() (pandas .round is half-even)
    m["y"] = (
        np.floor(m["l_extendedprice"] * (1 - m["l_discount"]) * 100 + 0.5)
        .astype("int64")
    )

    def slope(g):
        n, sx, sy = len(g), int(g["x"].sum()), int(g["y"].sum())
        sxx = int((g["x"] * g["x"]).sum())
        sxy = int((g["x"] * g["y"]).sum())
        num = float(n) * float(sxy) - float(sx) * float(sy)
        den = float(n) * float(sxx) - float(sx) * float(sx)
        return round(num / den * 1e6) / 1e6

    pooled = slope(m)
    for r in pdf.itertuples():
        g = m[m["n_name"] == r.grp]
        assert r.n == len(g)
        assert r.slope_cents_per_unit == slope(g)
        assert r.pooled_slope == pooled
        assert r.flipped == int(
            np.sign(round(r.slope_cents_per_unit * 1e6))
            != np.sign(round(r.pooled_slope * 1e6))
        )


def test_levene_matches_pandas_replay(spark, sf_dir):
    """levene_test equals a pandas Brown-Forsythe replay (median-
    centered absolute deviations -> one-way F) at cent grain."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import levene_test

    row = levene_test(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    g = e.assign(cents=cents).groupby("event_type")
    zs = []
    for _, grp in g:
        c = np.sort(grp["cents"].to_numpy())
        med = c[(len(c) + 1) // 2 - 1]  # lower median
        zs.append(np.abs(grp["cents"].to_numpy() - med))
    k = len(zs)
    n_tot = sum(len(z) for z in zs)
    s_tot = sum(int(z.sum()) for z in zs)
    ss_tot = sum(int((z.astype("int64") ** 2).sum()) for z in zs)
    sum_grp = sum(float(int(z.sum())) ** 2 / len(z) for z in zs)
    ss_b = sum_grp - float(s_tot) ** 2 / n_tot
    ss_w = float(ss_tot) - sum_grp
    w = (ss_b / (k - 1)) / (ss_w / (n_tot - k))
    assert row["k"] == k and row["n_tot"] == n_tot
    assert abs(row["ss_between"] - ss_b / 1e4) < 1e-4
    assert abs(row["ss_within"] - ss_w / 1e4) < 1e-4
    assert abs(row["w_stat"] - w) < 1e-5
    # W is an F statistic: strictly positive with these group sizes
    assert row["w_stat"] > 0


def test_welch_ttest_matches_numpy_replay(spark, sf_dir):
    """welch_ttest equals the textbook Welch formulas replayed in
    numpy from the same integer-cent samples."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GRP_A,
        _GRP_B,
        welch_ttest,
    )

    row = welch_ttest(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    a = cents[e["event_type"] == _GRP_A].to_numpy()
    b = cents[e["event_type"] == _GRP_B].to_numpy()
    n1, n2 = len(a), len(b)
    v1 = a.var(ddof=1)
    v2 = b.var(ddof=1)
    md = a.mean() - b.mean()
    t_w = md / np.sqrt(v1 / n1 + v2 / n2)
    df_w = (v1 / n1 + v2 / n2) ** 2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    t_p = md / np.sqrt(sp2 * (1 / n1 + 1 / n2))
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["mean_a"] - a.mean() / 100) < 1e-5
    assert abs(row["mean_b"] - b.mean() / 100) < 1e-5
    assert abs(row["t_welch"] - t_w) < 1e-5
    assert abs(row["df_welch"] - df_w) < 1e-3
    assert abs(row["t_pooled"] - t_p) < 1e-5
    assert row["df_pooled"] == n1 + n2 - 2
    # Welch df is bounded by min(n-1) and pooled df
    assert min(n1, n2) - 1 <= row["df_welch"] <= n1 + n2 - 2


def test_hdr_histogram_brackets_exact_quantiles(spark, sf_dir):
    """hdr_histogram_quantiles: every readout's [lo, hi] bucket
    brackets the exact ceil-rank order statistic, and the advertised
    relative-error bound holds for the midpoint estimate."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _HDR_QS,
        hdr_histogram_quantiles,
    )

    pdf = hdr_histogram_quantiles(spark, sf_dir).toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    c = np.sort(
        np.floor(o.loc[o["o_totalprice"] > 0, "o_totalprice"] * 100 + 0.5)
        .astype("int64")
        .to_numpy()
    )
    n = len(c)
    assert len(pdf) == len(_HDR_QS)
    for qn, qd in _HDR_QS:
        row = pdf[np.isclose(pdf["q"], qn / qd)].iloc[0]
        target = (qn * n + qd - 1) // qd
        exact = c[target - 1]  # ceil-rank order statistic
        assert row["lo_cents"] <= exact <= row["hi_cents"]
        assert row["target"] == target
        mid = (row["lo_cents"] + row["hi_cents"]) / 2
        assert abs(mid - exact) / exact <= row["rel_err_bound"] + 1e-12
        assert row["rel_err_bound"] <= 1.0 / 9 + 1e-12


def test_gbm_stumps_matches_pandas_replay(spark, sf_dir):
    """gbm_stumps' 3-round trace (split, leaves, MSE) equals a pandas
    replay of the same exact-integer boosting recursion, and the MSE
    is non-increasing across rounds."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import gbm_stumps

    pdf = (
        gbm_stumps(spark, sf_dir)
        .toPandas()
        .sort_values("round")
        .reset_index(drop=True)
    )
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    q = li["l_quantity"].astype("int64").to_numpy()
    d = np.floor(li["l_discount"] * 100 + 0.5).astype("int64").to_numpy()
    y = np.floor(li["l_extendedprice"] * 100 + 0.5).astype("int64").to_numpy()
    n = len(y)
    f0 = int(np.floor((2.0 * y.sum() + n) / (2.0 * n)))
    r = y - f0
    feats = {"quantity": q, "discount": d}
    for k in range(1, 4):
        best = None  # (gain, feature, threshold, nl, sl)
        for fname in sorted(feats):
            x = feats[fname]
            vals = np.unique(x)
            for v in vals:
                m = x <= v
                nl = int(m.sum())
                if nl == n:
                    continue
                sl = int(r[m].sum())
                sr = int(r.sum()) - sl
                gain = float(sl) * sl / nl + float(sr) * sr / (n - nl)
                key = (-gain, fname, v)
                if best is None or key < best[0]:
                    best = (key, fname, v, nl, sl)
        _, fname, v, nl, sl = best
        sr = int(r.sum()) - sl
        wl = int(np.floor((2.0 * sl + nl) / (2.0 * nl)))
        wr = int(np.floor((2.0 * sr + (n - nl)) / (2.0 * (n - nl))))
        m = feats[fname] <= v
        r = r - np.where(m, wl, wr)
        mse = round(
            int(np.floor(r.astype("float64") ** 2 / 1e4).sum()) / n / 1e4, 6
        )
        row = pdf.iloc[k - 1]
        assert row["feature"] == fname and row["threshold"] == v
        assert row["left_n"] == nl and row["right_n"] == n - nl
        assert row["left_leaf"] == wl / 100.0
        assert row["right_leaf"] == wr / 100.0
        assert abs(row["mse_after"] - mse) < 1e-9
    # boosting must not increase training MSE
    assert (np.diff(pdf["mse_after"].to_numpy()) <= 1e-12).all()


def test_knn_classify_invariants(spark, sf_dir):
    """knn_classify: one row per held-out query, vote counts in
    [ceil(k/n_labels), k], and accuracy beats the chance rate of the
    label distribution (the fixtures are label-clustered)."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _KNN_K,
        _KNN_MOD,
        knn_classify,
    )

    pdf = knn_classify(spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    n_queries = (emb["vec_id"] % _KNN_MOD == 0).sum()
    assert len(pdf) == n_queries
    assert pdf["qid"].is_unique
    assert pdf["n_votes"].between(1, _KNN_K).all()
    labels = set(emb["label"])
    assert set(pdf["pred_label"]) <= labels
    assert (pdf["correct"] == (pdf["pred_label"] == pdf["true_label"])).all()
    acc = pdf["correct"].mean()
    assert acc > 1.0 / len(labels)  # better than uniform chance


def test_tukey_hsd_matches_numpy_replay(spark, sf_dir):
    """tukey_hsd q statistics equal the Tukey-Kramer formula replayed
    in numpy, over all k-choose-2 pairs."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import tukey_hsd

    pdf = tukey_hsd(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    df = e.assign(cents=cents)
    groups = {t: g["cents"].to_numpy() for t, g in df.groupby("event_type")}
    k = len(groups)
    n_tot = len(df)
    assert len(pdf) == k * (k - 1) // 2
    ssw = sum(
        float((v.astype("int64") ** 2).sum()) - float(int(v.sum())) ** 2 / len(v)
        for v in groups.values()
    )
    msw = ssw / (n_tot - k)
    for r in pdf.itertuples():
        a, b = groups[r.type_a], groups[r.type_b]
        q = abs(a.mean() - b.mean()) / np.sqrt(
            msw / 2 * (1 / len(a) + 1 / len(b))
        )
        assert r.type_a < r.type_b
        assert r.n_a == len(a) and r.n_b == len(b)
        assert abs(r.q_stat - q) < 1e-5
        assert r.df_within == n_tot - k


def test_mmr_rerank_greedy_replay_and_diversity(spark, sf_dir):
    """mmr_rerank equals a numpy greedy MMR replay over the same
    rounded relevance/similarity inputs; first pick is the argmax-
    relevance candidate; selections are distinct pool members."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.retrieval_ops import (
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_POOL,
        _MMR_QUERY_ID,
        mmr_rerank,
    )

    pdf = mmr_rerank(spark, sf_dir).toPandas().sort_values("rank")
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    vecs = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype="float64")
        for _, r in emb.iterrows()
    }
    q = vecs[_MMR_QUERY_ID]

    def cos(a, b):
        return round(
            float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b)), 6
        )

    rel = {
        i: cos(q, v) for i, v in vecs.items() if i != _MMR_QUERY_ID
    }
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_POOL]
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    sel = []
    for k in range(1, _MMR_K + 1):
        best = None
        for i in pool:
            if i in sel:
                continue
            msim = max((cos(vecs[i], vecs[j]) for j in sel), default=0.0)
            score = lam * rel[i] - mu * msim
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, msim, score)
        _, i, msim, score = best
        sel.append(i)
        row = pdf.iloc[k - 1]
        assert row["vec_id"] == i
        assert row["rel"] == rel[i]
        assert abs(row["msim"] - msim) < 1e-12
        assert abs(row["score"] - round(score, 6)) < 1e-9
    assert pdf["vec_id"].is_unique


def _write_embeddings(path, ids, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        path,
    )


@pytest.mark.parametrize("shape", ["triplets", "short_pool"])
def test_mmr_rerank_vec_id_breaks_ties_like_oracle(spark, tmp_path, shape):
    """mmr_rerank on a corpus of exact duplicates equals _MMR_ORACLE in
    DuckDB over the same file. ``triplets``: every vector appears three
    times under scattered ids, written in shuffled order, so in every
    round the best score is shared by a whole triplet and only vec_id
    picks the winner (the pool boundary splits a triplet by vec_id too).
    ``short_pool``: three candidates, fewer than k, so the later rounds
    find nothing to pick."""
    import duckdb
    import numpy as np

    from dissertation_iceberg_spark.queries.retrieval_ops import (
        _MMR_ORACLE,
        _MMR_QUERY_ID,
        mmr_rerank,
    )
    from tools.parity import compare_frames

    rng = np.random.default_rng(7)
    n_groups, copies = (12, 3) if shape == "triplets" else (3, 1)
    base = rng.standard_normal((n_groups, 64)).astype("float32")
    ids = [_MMR_QUERY_ID] + [
        1 + g + n_groups * c for c in range(copies) for g in range(n_groups)
    ]
    vecs = [rng.standard_normal(64).astype("float32")] + [
        base[g] for _ in range(copies) for g in range(n_groups)
    ]
    order = rng.permutation(len(ids))
    _write_embeddings(
        tmp_path / "embeddings.parquet",
        [ids[i] for i in order],
        [vecs[i] for i in order],
    )

    sp = mmr_rerank(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path / 'embeddings.parquet'}'"
    )
    du = con.execute(_MMR_ORACLE).fetchdf()
    ok, msg = compare_frames(sp, du)
    assert ok, msg
    if shape == "short_pool":
        assert sorted(sp["rank"]) == [1, 2, 3]
        return
    assert len(sp) == 5
    group = {i: (i - 1) % n_groups for i in ids[1:]}
    picked = [group[i] for i in sp["vec_id"]]
    # each round won by a different triplet, through its smallest id
    assert len(set(picked)) == len(picked)
    assert all(i - 1 < n_groups for i in sp["vec_id"])


def test_mmr_argmax_ties_to_smallest_id_in_any_order(spark):
    """The fold's argmax gives the same element whatever order the
    array holds: highest key, then smallest vec_id, NaN above every
    number as in ``ORDER BY key DESC``."""
    from dissertation_iceberg_spark.queries.retrieval_ops import _argmax

    rows = [(5, 0.5), (3, 0.5), (9, 0.25), (4, 0.5), (8, -1.0)]
    cases = ((rows, 3), (rows[::-1], 3), (rows + [(11, float("nan"))], 11))
    for items, want in cases:
        arr = F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("vec_id"), F.lit(k).alias("k")
                )
                for i, k in items
            ]
        )
        got = spark.range(1).select(_argmax(arr, lambda x: x["k"])["vec_id"])
        assert got.first()[0] == want, items


def test_kruskal_wallis_matches_numpy_replay(spark, sf_dir):
    """kruskal_wallis equals a numpy midrank replay (scipy-free):
    pooled average ranks, per-group rank sums, tie-corrected H."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import kruskal_wallis

    row = kruskal_wallis(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64").to_numpy()
    types = e["event_type"].to_numpy()
    # midranks via argsort-free order statistics
    uniq, inv, counts = np.unique(cents, return_inverse=True, return_counts=True)
    cum_before = np.concatenate(([0], np.cumsum(counts)[:-1]))
    midrank = cum_before + (counts + 1) / 2.0
    r = midrank[inv]
    n = len(cents)
    groups = {t: r[types == t] for t in np.unique(types)}
    sum_grp = sum(float(g.sum()) ** 2 / len(g) for g in groups.values())
    h = 12.0 / (n * (n + 1)) * sum_grp - 3.0 * (n + 1)
    tie = float(((counts**3) - counts).sum())
    corr = 1.0 - tie / (float(n) ** 3 - n)
    assert row["k"] == len(groups) and row["n_tot"] == n
    assert abs(row["h_stat"] - h) < 1e-4
    assert abs(row["tie_correction"] - corr) < 1e-6  # 6-dp in-query round
    assert abs(row["h_corrected"] - h / corr) < 1e-4


def test_holt_winters_matches_python_replay(spark, sf_dir):
    """holt_winters_forecast equals a pure-python replay of the
    integer-shift triple-smoothing recursion for every event type."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        _HW_M,
        holt_winters_forecast,
    )

    pdf = holt_winters_forecast(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    daily = (
        e.assign(day=e["ts"].dt.floor("D"))
        .groupby(["event_type", "day"])
        .size()
        .reset_index(name="y")
        .sort_values(["event_type", "day"])
    )
    for t, g in daily.groupby("event_type"):
        y = g["y"].astype("int64").tolist()
        l = int((sum(y[:_HW_M])) // 7) if sum(y[:_HW_M]) >= 0 else None
        # floor of a non-negative integer sum / 7 == // 7
        b = 0
        s = [v - l for v in y[:_HW_M]]
        for v in y[_HW_M:]:
            s_old = s[0]
            l_new = (v - s_old + l + b) >> 1
            b = (l_new - l + b) >> 1
            s = s[1:] + [(v - l_new + s_old) >> 1]
            l = l_new
        row = pdf[pdf["event_type"] == t].iloc[0]
        assert row["n_days"] == len(y)
        assert row["level"] == l and row["trend"] == b
        assert row["next_season"] == s[0]
        assert row["forecast_next"] == l + b + s[0]


def test_friedman_matches_pandas_replay(spark, sf_dir):
    """friedman_test equals a pandas replay: per-complete-day average
    midranks of type means, rank sums, Q and Kendall's W."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import friedman_test

    pdf = friedman_test(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    daily = (
        d.groupby(["day", "event_type"])["cents"]
        .agg(["sum", "count"])
        .reset_index()
    )
    daily["m"] = daily["sum"] / daily["count"]
    k = daily["event_type"].nunique()
    complete = daily.groupby("day")["event_type"].transform("size") == k
    cells = daily[complete]
    ranks = cells.groupby("day")["m"].rank(method="average")
    cells = cells.assign(r=ranks)
    rs = cells.groupby("event_type")["r"].agg(["sum", "count"])
    n = int(rs["count"].iloc[0])
    ssr = float((rs["sum"] ** 2).sum())
    q = 12.0 / (n * k * (k + 1)) * ssr - 3.0 * n * (k + 1)
    w = q / (n * (k - 1))
    for r in pdf.itertuples():
        assert r.n_blocks == n
        assert abs(r.mean_rank - rs.loc[r.event_type, "sum"] / n) < 1e-6
        assert abs(r.q_stat - q) < 1e-4
        assert abs(r.kendall_w - w) < 1e-6


def test_wasserstein_1d_matches_numpy_replay(spark, sf_dir):
    """wasserstein_1d approximates the exact numpy W1 (micro-rounded
    grid terms => 1e-6-cent grain per term) and is symmetric-positive."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _W1_A,
        _W1_B,
        wasserstein_1d,
    )

    row = wasserstein_1d(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    a = np.sort(cents[e["event_type"] == _W1_A].to_numpy())
    b = np.sort(cents[e["event_type"] == _W1_B].to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    gaps = np.diff(grid)
    w1 = float((np.abs(fa - fb)[:-1] * gaps).sum()) / 100.0
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["n_grid"] == len(grid) - 1
    # per-term 1e-6 rounding => error bound n_grid * 5e-7 cents
    assert abs(row["w1_dollars"] - w1) < len(grid) * 5e-9 + 1e-9
    assert row["w1_dollars"] > 0


def test_powerlaw_alpha_matches_numpy_replay(spark, sf_dir):
    """powerlaw_alpha equals the CSN continuous-approximation MLE
    replayed in numpy at micro-log grain, with alpha > 1."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        powerlaw_alpha,
    )

    row = powerlaw_alpha(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.groupby("user_id").size().to_numpy()
    n = len(d)
    logsum = np.log(2.0 * d).sum()
    alpha = 1.0 + n / logsum
    assert row["n_users"] == n
    assert row["d_min"] == 1 and row["d_max"] == d.max()
    assert abs(row["alpha"] - alpha) < 1e-5
    assert abs(row["alpha_se"] - (alpha - 1) / np.sqrt(n)) < 1e-5
    assert row["alpha"] > 1


def test_psm_att_matches_pandas_replay(spark, sf_dir):
    """psm_att equals a pandas replay of nearest-score stratum
    matching with replacement (ties toward the lower score)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import psm_att

    row = psm_att(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    u = d.groupby("user_id").agg(
        score=("event_type", "size"),
        n_err=("event_type", lambda s: int((s == "error").sum())),
    )
    u["treated"] = (5 * u["n_err"] > u["score"]).astype(int)
    y = (
        d[d["event_type"] == "purchase"].groupby("user_id")["cents"].sum()
    )
    u["y"] = y.reindex(u.index).fillna(0).astype("int64")
    ctrl = u[u["treated"] == 0]
    strat = ctrl.groupby("score")["y"].agg(["sum", "count"])
    c_scores = np.sort(strat.index.to_numpy())
    treated = u[u["treated"] == 1]
    terms, gaps = [], []
    for s, yt in zip(treated["score"], treated["y"]):
        pos = np.searchsorted(c_scores, s)
        prev_c = c_scores[pos - 1] if pos > 0 else None
        # bisect: c_scores[pos] >= s; equal counts as prev (<=)
        if pos < len(c_scores) and c_scores[pos] == s:
            prev_c = s
        next_c = (
            c_scores[pos]
            if pos < len(c_scores)
            else None
        )
        if prev_c is None:
            m = next_c
        elif next_c is None:
            m = prev_c
        elif s - prev_c <= next_c - s:
            m = prev_c
        else:
            m = next_c
        mc = strat.loc[m]
        terms.append(round((yt - mc["sum"] / mc["count"]) * 1e2))
        gaps.append(abs(s - m))
    att = sum(terms) / len(terms) / 1e4
    assert row["n_treated"] == len(treated)
    assert row["n_controls"] == len(ctrl)
    assert abs(row["att_dollars"] - att) < 1e-5
    assert abs(row["mean_score_gap"] - np.mean(gaps)) < 1e-6
    assert abs(
        row["mean_treated_dollars"] - treated["y"].mean() / 100.0
    ) < 1e-5


def test_rdd_estimate_matches_numpy_replay(spark, sf_dir):
    """rdd_estimate equals numpy lstsq local-linear fits on each side
    of the cutoff, and the effect is the intercept difference."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _RDD_BW,
        _RDD_CUTOFF,
        rdd_estimate,
    )

    row = rdd_estimate(spark, sf_dir).toPandas().iloc[0]
    o = load_table(spark, sf_dir, "orders").toPandas()
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    band = o[
        (o["o_totalprice"] >= _RDD_CUTOFF - _RDD_BW)
        & (o["o_totalprice"] < _RDD_CUTOFF + _RDD_BW)
    ]
    m = li.merge(band, left_on="l_orderkey", right_on="o_orderkey")
    x = (
        np.floor(m["o_totalprice"] + 0.5).astype("int64") - _RDD_CUTOFF
    ).to_numpy()
    y = (
        (m["l_shipdate"].dt.floor("D") - m["o_orderdate"].dt.floor("D"))
        .dt.days.astype("int64")
        .to_numpy()
    )

    def fit(mask):
        A = np.vstack([np.ones(mask.sum()), x[mask]]).T
        b, *_ = np.linalg.lstsq(A, y[mask].astype("float64"), rcond=None)
        return b  # [intercept, slope]

    bl, br = fit(x < 0), fit(x >= 0)
    assert row["n_left"] == (x < 0).sum()
    assert row["n_right"] == (x >= 0).sum()
    assert abs(row["intercept_left"] - bl[0]) < 1e-4
    assert abs(row["intercept_right"] - br[0]) < 1e-4
    assert abs(row["rdd_effect_days"] - (br[0] - bl[0])) < 1e-4
    assert abs(row["slope_left_per_10k"] - bl[1] * 1e4) < 1e-3
    assert abs(row["slope_right_per_10k"] - br[1] * 1e4) < 1e-3


def test_dunn_posthoc_matches_numpy_replay(spark, sf_dir):
    """dunn_posthoc z statistics equal a numpy midrank replay with
    the tie-corrected pooled variance."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import dunn_posthoc

    pdf = dunn_posthoc(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64").to_numpy()
    types = e["event_type"].to_numpy()
    uniq, inv, counts = np.unique(
        cents, return_inverse=True, return_counts=True
    )
    cum_before = np.concatenate(([0], np.cumsum(counts)[:-1]))
    midrank = cum_before + (counts + 1) / 2.0
    r = midrank[inv]
    n = len(cents)
    tie = float(((counts**3) - counts).sum())
    var_base = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    groups = {t: r[types == t] for t in np.unique(types)}
    k = len(groups)
    assert len(pdf) == k * (k - 1) // 2
    for row in pdf.itertuples():
        a, b = groups[row.type_a], groups[row.type_b]
        z = (a.mean() - b.mean()) / np.sqrt(
            var_base * (1 / len(a) + 1 / len(b))
        )
        assert abs(row.z_stat - z) < 1e-5
        assert abs(row.mean_rank_a - a.mean()) < 1e-6
        assert abs(row.mean_rank_b - b.mean()) < 1e-6


def test_effect_sizes_match_numpy_replay(spark, sf_dir):
    """effect_sizes equals numpy: pooled-SD Cohen's d, Hedges'
    correction, and the exact pairwise-dominance Cliff's delta."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GRP_A,
        _GRP_B,
        effect_sizes,
    )

    row = effect_sizes(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    a = cents[e["event_type"] == _GRP_A].to_numpy()
    b = cents[e["event_type"] == _GRP_B].to_numpy()
    n1, n2 = len(a), len(b)
    sp = np.sqrt(
        ((n1 - 1) * a.var(ddof=1) + (n2 - 1) * b.var(ddof=1)) / (n1 + n2 - 2)
    )
    d = (a.mean() - b.mean()) / sp
    g = d * (1 - 3 / (4 * (n1 + n2) - 9))
    # exact dominance counts via sorted search
    bs = np.sort(b)
    n_gt = int(np.searchsorted(bs, a, side="left").sum())
    n_lt = int((n2 - np.searchsorted(bs, a, side="right")).sum())
    delta = (n_gt - n_lt) / (n1 * n2)
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["cohens_d"] - d) < 1e-5
    assert abs(row["hedges_g"] - g) < 1e-5
    assert abs(row["cliffs_delta"] - delta) < 1e-6  # 6-dp in-query round


def test_evt_gumbel_matches_numpy_replay(spark, sf_dir):
    """evt_gumbel_fit equals the method-of-moments Gumbel fit in
    numpy; return levels increase with horizon and exceed the mean."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        evt_gumbel_fit,
    )

    row = evt_gumbel_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    mx = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .max()
        .to_numpy()
        .astype("float64")
    )
    m, s = mx.mean(), mx.std(ddof=1)
    beta = s * math.sqrt(6) / math.pi
    gamma = 0.5772156649015329
    mu = m - gamma * beta
    r30 = mu - beta * math.log(-math.log(1 - 1 / 30))
    r365 = mu - beta * math.log(-math.log(1 - 1 / 365))
    assert row["n_days"] == len(mx)
    assert abs(row["mean_daily_max"] - m / 100) < 1e-5
    assert abs(row["beta_dollars"] - beta / 100) < 1e-5
    assert abs(row["mu_dollars"] - mu / 100) < 1e-5
    assert abs(row["return_level_30d"] - r30 / 100) < 1e-4
    assert abs(row["return_level_365d"] - r365 / 100) < 1e-4
    assert row["return_level_365d"] > row["return_level_30d"] > row["mu_dollars"]


def test_chapman_matches_replay_and_brackets_truth(spark, sf_dir):
    """chapman_estimate equals the Chapman formula on the two
    time-half captures, and the estimate lands within a few SE of the
    true observed population (every fixture user is long-lived)."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import chapman_estimate

    row = chapman_estimate(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    lo, hi = e["ts"].min(), e["ts"].max()
    mid_ok = e["ts"].astype("int64") * 2 < (
        lo.value + hi.value
    )  # ns*2 comparison == us*2 comparison
    first = set(e.loc[mid_ok, "user_id"])
    second = set(e.loc[~mid_ok, "user_id"])
    n1, n2, m = len(first), len(second), len(first & second)
    est = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert row["n1"] == n1 and row["n2"] == n2 and row["m"] == m
    assert row["n_true"] == e["user_id"].nunique()
    assert abs(row["chapman_estimate"] - est) < 1e-6
    assert abs(row["chapman_estimate"] - row["n_true"]) <= max(
        3 * row["chapman_se"] + 1, 2
    )


def test_runs_test_matches_python_replay(spark, sf_dir):
    """runs_test equals a pure-python replay of the up/down run count
    and the Wald-Wolfowitz moments."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import runs_test

    row = runs_test(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    daily = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    diffs = np.diff(daily)
    ups = (diffs[diffs != 0] > 0).astype(int)
    n, n_up = len(ups), int(ups.sum())
    n_down = n - n_up
    runs = 1 + int((ups[1:] != ups[:-1]).sum())
    mu = 1 + 2 * n_up * n_down / n
    var = (2 * n_up * n_down) * (2 * n_up * n_down - n) / (n**2 * (n - 1))
    assert row["n"] == n and row["n_up"] == n_up and row["n_down"] == n_down
    assert row["runs"] == runs
    assert abs(row["expected_runs"] - mu) < 1e-5
    assert abs(row["z_stat"] - (runs - mu) / np.sqrt(var)) < 1e-5


def test_negbin_fit_matches_numpy_replay(spark, sf_dir):
    """negbin_fit equals numpy method-of-moments and the NB params
    reproduce the observed mean/variance."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import negbin_fit

    row = negbin_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.groupby("user_id").size().to_numpy().astype("float64")
    m, v = d.mean(), d.var(ddof=1)
    assert row["n_users"] == len(d)
    assert abs(row["mean_count"] - m) < 1e-5
    assert abs(row["var_count"] - v) < 1e-4
    assert abs(row["dispersion_index"] - v / m) < 1e-6
    if v > m:
        r, p = m * m / (v - m), m / v
        assert abs(row["nb_r"] - r) < 1e-4
        assert abs(row["nb_p"] - p) < 1e-6
        # NB(r, p) moment identities: mean r(1-p)/p, var mean/p
        assert abs(r * (1 - p) / p - m) < 1e-6
        assert abs(r * (1 - p) / p / p - v) < 1e-4
    else:
        assert np.isnan(row["nb_r"]) and np.isnan(row["nb_p"])


def test_engle_granger_matches_numpy_replay(spark, sf_dir):
    """engle_granger_coint equals a numpy replay of the two-step
    procedure: OLS hedge ratio, cent-rounded residuals, no-constant
    Dickey-Fuller regression."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.econometrics import (
        _EG_A,
        _EG_B,
        engle_granger_coint,
    )

    row = engle_granger_coint(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    d = d[d["event_type"].isin([_EG_A, _EG_B])]
    p = (
        d.pivot_table(
            index="day",
            columns="event_type",
            values="cents",
            aggfunc="sum",
            fill_value=0,
        )
        .sort_index()
    )
    x = p[_EG_B].to_numpy().astype("float64")
    y = p[_EG_A].to_numpy().astype("float64")
    n = len(x)
    beta = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    alpha = (y.sum() * (x * x).sum() - x.sum() * (x * y).sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    res = np.floor(y - alpha - beta * x + 0.5).astype("int64")
    u, dy = res[:-1], np.diff(res)
    rho = float((u * dy).sum()) / float((u * u).sum())
    s2 = (float((dy * dy).sum()) - rho * float((u * dy).sum())) / (
        len(dy) - 1
    )
    t = rho / np.sqrt(s2 / float((u * u).sum()))
    assert row["n_days"] == n
    assert abs(row["hedge_beta"] - beta) < 1e-5
    assert abs(row["alpha_dollars"] - alpha / 100) < 1e-4
    assert abs(row["rho"] - rho) < 1e-6
    assert abs(row["eg_t_stat"] - t) < 1e-4
    assert row["crit_5pct"] == -3.37


def test_mcnemar_matches_pandas_replay(spark, sf_dir):
    """mcnemar_test cell counts and chi-square equal a pandas replay
    of the paired big-ticket purchase indicators."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _MCN_THR,
        mcnemar_test,
    )

    row = mcnemar_test(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    lo, hi = e["ts"].min().value, e["ts"].max().value
    first_half = e["ts"].astype("int64") * 2 < lo + hi
    hit = (e["event_type"] == "purchase") & (e["value"] > _MCN_THR)
    p1 = e[first_half & hit].groupby("user_id").size()
    p2 = e[~first_half & hit].groupby("user_id").size()
    users = e["user_id"].unique()
    a1 = {u: int(u in p1.index) for u in users}
    a2 = {u: int(u in p2.index) for u in users}
    b = sum(1 for u in users if a1[u] and not a2[u])
    c = sum(1 for u in users if not a1[u] and a2[u])
    both = sum(1 for u in users if a1[u] and a2[u])
    assert row["n"] == len(users)
    assert row["only_first"] == b and row["only_second"] == c
    assert row["both_halves"] == both
    assert abs(row["chi2"] - (b - c) ** 2 / (b + c)) < 1e-6
    assert abs(row["chi2_corrected"] - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-6


def test_cumulative_gains_invariants_and_replay(spark, sf_dir):
    """cumulative_gains: gains are nondecreasing and end at 1.0; the
    decile-0 lift is maximal; counts replay in pandas."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GAINS_BINS,
        _GAINS_SPLIT,
        cumulative_gains,
    )

    pdf = (
        cumulative_gains(spark, sf_dir)
        .toPandas()
        .sort_values("decile")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    split = np.datetime64(_GAINS_SPLIT)
    h = e[e["ts"] < split]
    hist = h.groupby("user_id").agg(
        n_ev=("event_type", "size"),
        n_p=("event_type", lambda s: int((s == "purchase").sum())),
    )
    fut = set(
        e.loc[
            (e["ts"] >= split) & (e["event_type"] == "purchase"), "user_id"
        ]
    )
    hist["s"] = (hist["n_p"] * 1_000_000) // hist["n_ev"]
    hist["y"] = [int(u in fut) for u in hist.index]
    hist = hist.sort_values(["s", "user_id"], ascending=[False, True])
    n, pos = len(hist), int(hist["y"].sum())
    rk = np.arange(1, n + 1)
    hist["decile"] = (_GAINS_BINS * (rk - 1)) // n
    g = hist.groupby("decile")["y"].agg(["size", "sum"])
    for r in pdf.itertuples():
        assert r.n_users == g.loc[r.decile, "size"]
        assert r.n_pos == g.loc[r.decile, "sum"]
    gains = pdf["gain"].to_numpy()
    assert (np.diff(gains) >= -1e-12).all()
    assert abs(gains[-1] - 1.0) < 1e-9
    assert pdf["cum_lift"].iloc[0] == pdf["cum_lift"].max()


def test_seasonal_mann_kendall_matches_numpy_replay(spark, sf_dir):
    """seasonal_mann_kendall equals a numpy replay: per-weekday MK S
    and tie-corrected variance summed across strata."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.microstructure import (
        seasonal_mann_kendall,
    )

    pdf = seasonal_mann_kendall(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby(["event_type", "day"])["cents"]
        .sum()
        .reset_index()
    )
    epoch = np.datetime64("1970-01-01")
    d["day_num"] = ((d["day"] - epoch).dt.days).astype("int64")
    d["dow"] = (d["day_num"] + 3) % 7
    for t, g in d.groupby("event_type"):
        s_tot, var_tot, n_tot = 0, 0.0, 0
        for _, gg in g.groupby("dow"):
            gg = gg.sort_values("day_num")
            v = gg["cents"].to_numpy()
            n = len(v)
            n_tot += n
            s = sum(
                int(np.sign(v[j] - v[i]))
                for i in range(n)
                for j in range(i + 1, n)
            )
            s_tot += s
            _, counts = np.unique(v, return_counts=True)
            tie = float((counts * (counts - 1) * (2 * counts + 5)).sum())
            var_tot += (n * (n - 1) * (2 * n + 5) - tie) / 18
        row = pdf[pdf["event_type"] == t].iloc[0]
        assert row["n_days"] == n_tot
        assert row["s_stat"] == s_tot
        assert abs(row["var_s"] - var_tot) < 1e-5
        if var_tot > 0:
            z = (
                (s_tot - 1) / np.sqrt(var_tot)
                if s_tot > 0
                else ((s_tot + 1) / np.sqrt(var_tot) if s_tot < 0 else 0.0)
            )
            assert abs(row["smk_z"] - z) < 1e-5


def test_projection_ks_matches_numpy_replay(spark, sf_dir):
    """projection_ks_drift equals a numpy replay: integer hyperplane
    projection, exact two-sample KS over the projections."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _PKS_LA,
        _PKS_LB,
        _pks_weights,
        projection_ks_drift,
    )

    row = projection_ks_drift(spark, sf_dir).toPandas().iloc[0]
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    emb = emb[emb["label"].isin([_PKS_LA, _PKS_LB])]
    w = np.array(_pks_weights(), dtype="int64")
    proj = {
        lbl: np.array(
            [
                int(
                    (
                        np.floor(
                            np.asarray(v, dtype="float64") * 1e6 + 0.5
                        ).astype("int64")
                        * w
                    ).sum()
                )
                for v in grp["embedding"]
            ]
        )
        for lbl, grp in emb.groupby("label")
    }
    a, b = np.sort(proj[_PKS_LA]), np.sort(proj[_PKS_LB])
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    d = float(np.abs(fa - fb).max())
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["d_stat"] - d) < 1e-6
    lam = d * np.sqrt(len(a) * len(b) / (len(a) + len(b)))
    assert abs(row["ks_lambda"] - lam) < 1e-5
    assert 0 <= row["d_stat"] <= 1


def test_learning_curve_matches_pandas_replay(spark, sf_dir):
    """learning_curve equals a pandas replay: hash-sliced nested
    training sets, Gini-optimal stump per subset, shared-holdout
    accuracy; training sets nest."""
    import hashlib

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _LC_FRACS,
        _LC_HOLDOUT,
        learning_curve,
    )

    pdf = (
        learning_curve(spark, sf_dir)
        .toPandas()
        .sort_values("cut")
        .reset_index(drop=True)
    )
    o = load_table(spark, sf_dir, "orders").toPandas()
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64").to_numpy()
    pos = (o["o_orderstatus"] == "F").astype(int).to_numpy()
    h = np.array(
        [
            int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 100
            for k in o["o_orderkey"]
        ]
    )
    ho = h >= _LC_HOLDOUT
    for i, cut in enumerate(_LC_FRACS):
        tr = h < cut
        c, y = cents[tr], pos[tr]
        order = np.argsort(c, kind="stable")
        cs, ys = c[order], y[order]
        uniq, idx = np.unique(cs, return_index=True)
        # cumulative counts up to and including each distinct value
        cn = np.append(idx[1:], len(cs))
        cp = np.cumsum(ys)[cn - 1]
        n_all, p_all = len(cs), int(ys.sum())
        valid = cn < n_all
        gini = (
            2.0 * cp * (cn - cp) / cn
            + 2.0 * (p_all - cp) * ((n_all - cn) - (p_all - cp))
            / (n_all - cn + (~valid))
        ) / n_all
        gini = np.where(valid, gini, np.inf)
        j = int(np.lexsort((uniq, gini))[0])
        thr, n_l, p_l = int(uniq[j]), int(cn[j]), int(cp[j])
        n_r, p_r = n_all - n_l, p_all - p_l
        pred = np.where(
            cents[ho] <= thr, 2 * p_l >= n_l, 2 * p_r >= n_r
        )
        acc = (pred == (pos[ho] == 1)).mean()
        row = pdf.iloc[i]
        assert row["n_train"] == n_all
        assert row["threshold_cents"] == thr
        assert abs(row["holdout_acc"] - acc) < 1e-6
        assert row["n_holdout"] == int(ho.sum())
    # nested subsets: training size strictly increases with the cut
    assert pdf["n_train"].is_monotonic_increasing


def test_hll_merge_audit_is_exact(spark, sf_dir):
    """hll_merge_audit: shard max-merge is bit-identical to the
    global rebuild (zero mismatches, equal estimates, flag set)."""
    from dissertation_iceberg_spark.queries.sketch_ops import hll_merge_audit

    row = hll_merge_audit(spark, sf_dir).toPandas().iloc[0]
    assert row["n_mismatch"] == 0
    assert row["merge_exact"] == 1
    assert row["est_merged"] == row["est_global"]
    assert row["n_shards"] >= 2
    assert 0 < row["n_buckets"] <= 256


def test_hashing_trick_audit_matches_python_replay(spark, sf_dir):
    """hashing_trick_audit equals a python replay of the md5-bucket
    assignment and collision accounting."""
    import hashlib
    from collections import Counter

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.sketch_ops import (
        _FH_WIDTH,
        hashing_trick_audit,
    )

    row = hashing_trick_audit(spark, sf_dir).toPandas().iloc[0]
    docs = load_table(spark, sf_dir, "documents").toPandas()
    tf = Counter(
        t for text in docs["text"] for t in text.split(" ") if t != ""
    )
    buckets = Counter()
    mass = Counter()
    for term, f in tf.items():
        b = int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % _FH_WIDTH
        buckets[b] += 1
        mass[b] += f
    vocab = len(tf)
    coll_terms = sum(n for n in buckets.values() if n > 1)
    coll_mass = sum(mass[b] for b, n in buckets.items() if n > 1)
    assert row["vocab"] == vocab
    assert row["used"] == len(buckets)
    assert row["colliding_terms"] == coll_terms
    assert row["max_bucket_terms"] == max(buckets.values())
    assert abs(row["term_collision_rate"] - coll_terms / vocab) < 1e-6
    assert (
        abs(row["mass_collision_rate"] - coll_mass / sum(tf.values())) < 1e-6
    )


def test_butterfly_count_matches_pandas_replay(spark, sf_dir):
    """butterfly_count equals a pandas replay of sum-C(co,2) over
    part pairs and sum-C(deg,2) wedges."""
    from collections import Counter
    from itertools import combinations

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.graph_ops import butterfly_count

    row = butterfly_count(spark, sf_dir).toPandas().iloc[0]
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    edges = set(zip(li["l_orderkey"], li["l_partkey"]))
    baskets = {}
    for o, p in edges:
        baskets.setdefault(o, set()).add(p)
    wedges = sum(len(b) * (len(b) - 1) // 2 for b in baskets.values())
    co = Counter()
    for b in baskets.values():
        for pa, pb in combinations(sorted(b), 2):
            co[(pa, pb)] += 1
    bflies = sum(n * (n - 1) // 2 for n in co.values())
    assert row["n_edges"] == len(edges)
    assert row["n_orders"] == len(baskets)
    assert row["n_parts"] == len({p for _, p in edges})
    assert row["n_wedges"] == wedges
    assert row["n_part_pairs"] == len(co)
    assert row["n_butterflies"] == bflies


def test_forecast_backtest_matches_python_replay(spark, sf_dir):
    """forecast_backtest_battery equals a python replay: Holt trained
    on the prefix, static h-step forecasts, seasonal-naive lags, and
    exact MAE/RMSE/MASE."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        _BT_H,
        forecast_backtest_battery,
    )

    pdf = forecast_backtest_battery(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    daily = (
        e.assign(day=e["ts"].dt.floor("D"))
        .groupby(["event_type", "day"])
        .size()
        .rename("y")
        .reset_index()
        .sort_values(["event_type", "day"])
    )
    for t, g in daily.groupby("event_type"):
        y = g["y"].astype("int64").tolist()
        tr, ho = y[:-_BT_H], y[-_BT_H:]
        l, b = tr[0], 0
        for v in tr[1:]:
            l_new = (v + l + b) >> 1
            b = (l_new - l + b) >> 1
            l = l_new
        f_holt = [l + h * b for h in range(1, _BT_H + 1)]
        f_naive = tr[-_BT_H:]
        d_num = sum(abs(a - c) for a, c in zip(tr[1:], tr[:-1]))
        d_cnt = len(tr) - 1
        for model, f in (("holt", f_holt), ("seasonal_naive", f_naive)):
            mae_num = sum(abs(a - c) for a, c in zip(ho, f))
            sq_num = sum((a - c) ** 2 for a, c in zip(ho, f))
            row = pdf[(pdf["event_type"] == t) & (pdf["model"] == model)].iloc[0]
            assert row["n_train"] == len(tr)
            assert abs(row["mae"] - mae_num / _BT_H) < 1e-6
            assert abs(row["rmse"] - np.sqrt(sq_num / _BT_H)) < 1e-5
            assert (
                abs(row["mase"] - mae_num * d_cnt / (_BT_H * d_num)) < 1e-5
            )


def test_iv_wald_matches_numpy_replay(spark, sf_dir):
    """iv_wald_estimate equals the covariance-ratio formulas in numpy
    and the instrument is strong on the fixtures (F >> 10)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.econometrics import (
        iv_wald_estimate,
    )

    row = iv_wald_estimate(spark, sf_dir).toPandas().iloc[0]
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    o = load_table(spark, sf_dir, "orders").toPandas()
    per = li.groupby("l_orderkey").agg(
        x=("l_quantity", lambda s: int(s.astype("int64").sum())),
        z=("l_quantity", "size"),
    )
    m = per.merge(o, left_index=True, right_on="o_orderkey")
    x = m["x"].to_numpy().astype("float64")
    z = m["z"].to_numpy().astype("float64")
    y = (
        np.floor(m["o_totalprice"] * 100 + 0.5).astype("int64").to_numpy()
        .astype("float64")
    )
    n = len(x)
    cxy = n * (x * y).sum() - x.sum() * y.sum()
    cxx = n * (x * x).sum() - x.sum() ** 2
    czy = n * (z * y).sum() - z.sum() * y.sum()
    czx = n * (z * x).sum() - z.sum() * x.sum()
    czz = n * (z * z).sum() - z.sum() ** 2
    r2 = czx**2 / (czz * cxx)
    assert row["n"] == n
    assert abs(row["beta_ols"] - cxy / cxx / 100) < 1e-5
    assert abs(row["beta_iv"] - czy / czx / 100) < 1e-5
    assert abs(row["first_stage_f"] - (n - 2) * r2 / (1 - r2)) < 1e-2
    assert row["first_stage_f"] > 10  # strong instrument on fixtures


def test_group_sequential_monitor_replay(spark, sf_dir):
    """group_sequential_monitor equals a pandas replay of cumulative
    per-look conversion z and OBF boundaries; boundaries decrease."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GS_LOOKS,
        _MCN_THR,
        group_sequential_monitor,
    )

    pdf = (
        group_sequential_monitor(spark, sf_dir)
        .toPandas()
        .sort_values("look")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    lo, hi = int(us.min()), int(us.max()) + 1
    hit = (e["event_type"] == "purchase") & (e["value"] > _MCN_THR)
    assert len(pdf) == _GS_LOOKS
    for k in range(1, _GS_LOOKS + 1):
        cut = lo + (hi - lo) * k / _GS_LOOKS
        sub = e[us < cut]
        sub_hit = hit[us < cut]
        users = sub.groupby("user_id").size().index
        conv = set(sub.loc[sub_hit, "user_id"])
        arms = {u: u % 2 for u in users}
        n_t = sum(1 for u in users if arms[u] == 1)
        n_c = len(users) - n_t
        c_t = sum(1 for u in conv if arms[u] == 1)
        c_c = len(conv) - c_t
        row = pdf.iloc[k - 1]
        assert (row["n_t"], row["c_t"], row["n_c"], row["c_c"]) == (
            n_t,
            c_t,
            n_c,
            c_c,
        )
        bound = 2.0401 * np.sqrt(_GS_LOOKS / k)
        assert abs(row["obf_bound"] - bound) < 1e-4
        tot = c_t + c_c
        if 0 < tot < n_t + n_c:
            p = tot / (n_t + n_c)
            z = (c_t / n_t - c_c / n_c) / np.sqrt(
                p * (1 - p) * (1 / n_t + 1 / n_c)
            )
            assert abs(row["z_stat"] - z) < 1e-5
            assert row["crossed"] == int(abs(z) > bound)
    # OBF boundaries shrink monotonically with the look index
    assert pdf["obf_bound"].is_monotonic_decreasing


def test_qini_uplift_invariants_and_replay(spark, sf_dir):
    """qini_uplift decile counts replay in pandas; arm totals
    partition the population; final qini value equals total
    incremental conversions."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GAINS_BINS,
        _GAINS_SPLIT,
        _MCN_THR,
        qini_uplift,
    )

    pdf = (
        qini_uplift(spark, sf_dir)
        .toPandas()
        .sort_values("decile")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    split = np.datetime64(_GAINS_SPLIT)
    h = e[e["ts"] < split]
    hist = h.groupby("user_id").agg(
        n_ev=("event_type", "size"),
        n_p=("event_type", lambda s: int((s == "purchase").sum())),
    )
    fut = set(
        e.loc[
            (e["ts"] >= split)
            & (e["event_type"] == "purchase")
            & (e["value"] > _MCN_THR),
            "user_id",
        ]
    )
    hist["s"] = (hist["n_p"] * 1_000_000) // hist["n_ev"]
    hist["arm"] = (hist.index % 2).astype(int)
    hist["y"] = [int(u in fut) for u in hist.index]
    hist = hist.sort_values(["s", "user_id"], ascending=[False, True])
    n = len(hist)
    hist["decile"] = (_GAINS_BINS * np.arange(n)) // n
    g = hist.groupby(["decile", "arm"])["y"].agg(["size", "sum"])
    for r in pdf.itertuples():
        for arm, nc, cc in ((1, r.n_t, r.c_t), (0, r.n_c, r.c_c)):
            if (r.decile, arm) in g.index:
                assert nc == g.loc[(r.decile, arm), "size"]
                assert cc == g.loc[(r.decile, arm), "sum"]
            else:
                assert nc == 0 and cc == 0
    assert (pdf["n_t"] + pdf["n_c"]).sum() == n
    cn_t, cc_t = pdf["n_t"].sum(), pdf["c_t"].sum()
    cn_c, cc_c = pdf["n_c"].sum(), pdf["c_c"].sum()
    expect_final = cc_t - cc_c * cn_t / cn_c
    assert abs(pdf["qini_value"].iloc[-1] - expect_final) < 1e-4


def test_log_rank_matches_python_replay(spark, sf_dir):
    """log_rank_test equals a python replay of the Mantel-Cox
    observed-minus-expected accounting over at-risk sets."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import log_rank_test

    row = log_rank_test(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.assign(day=e["ts"].dt.floor("D"))
    u = d.groupby("user_id").agg(
        t0=("day", "min"),
        tend=("day", "max"),
    )
    tp = (
        d[d["event_type"] == "purchase"].groupby("user_id")["day"].min()
    )
    u["tp"] = tp.reindex(u.index)
    u["t_day"] = (
        (u["tp"].fillna(u["tend"]) - u["t0"]).dt.days.astype("int64")
    )
    u["ev"] = u["tp"].notna().astype(int)
    u["arm"] = (u.index % 2).astype(int)
    o1 = e1 = v = 0.0
    n1 = int((u["arm"] == 1).sum())
    nt = len(u)
    for t in sorted(u["t_day"].unique()):
        at = u[u["t_day"] >= t]
        n1t, ntt = int((at["arm"] == 1).sum()), len(at)
        dt = int(at.loc[at["t_day"] == t, "ev"].sum())
        d1t = int(
            at.loc[(at["t_day"] == t) & (at["arm"] == 1), "ev"].sum()
        )
        if dt > 0:
            o1 += d1t
            e1 += round(dt * n1t / ntt * 1e6) / 1e6
            if ntt > 1:
                v += (
                    round(
                        dt
                        * n1t
                        / ntt
                        * (ntt - n1t)
                        / ntt
                        * (ntt - dt)
                        / (ntt - 1)
                        * 1e6
                    )
                    / 1e6
                )
    assert row["n_treat"] == n1 and row["n_ctrl"] == nt - n1
    assert row["o1"] == o1
    assert abs(row["e1"] - e1) < 1e-5
    assert abs(row["var_lr"] - v) < 1e-5
    z = (o1 - e1) / np.sqrt(v)
    assert abs(row["z_stat"] - z) < 1e-4
    assert abs(row["chi2"] - z * z) < 1e-3


def test_causal_impact_lite_matches_pandas_replay(spark, sf_dir):
    """causal_impact_lite equals a pandas replay: dow-mean pre-period
    counterfactual, post-period daily and cumulative effects."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        causal_impact_lite,
    )

    pdf = causal_impact_lite(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    lo, hi = int(us.min()), int(us.max())
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"),
                 post=(us * 2 >= lo + hi).astype(int))
    daily = d.groupby(["event_type", "day"]).agg(
        cents=("cents", "sum"), post=("post", "max")
    ).reset_index()
    epoch = np.datetime64("1970-01-01")
    daily["dow"] = (((daily["day"] - epoch).dt.days) + 3) % 7
    pre = daily[daily["post"] == 0]
    cf = (
        pre.groupby(["event_type", "dow"])["cents"]
        .mean()
        .apply(lambda m: int(np.floor(m + 0.5)))
    )
    post = daily[daily["post"] == 1].sort_values(["event_type", "day"])
    for t, grp in post.groupby("event_type"):
        cum = 0
        for r in grp.itertuples():
            key = (t, r.dow)
            if key not in cf.index:
                continue
            eff = r.cents - cf.loc[key]
            cum += eff
            row = pdf[(pdf["event_type"] == t) & (pdf["day"] == r.day)]
            assert len(row) == 1
            row = row.iloc[0]
            assert abs(row["actual"] - r.cents / 100) < 1e-6
            assert abs(row["counterfactual"] - cf.loc[key] / 100) < 1e-6
            assert abs(row["effect"] - eff / 100) < 1e-6
            assert abs(row["cum_effect"] - cum / 100) < 1e-6


def test_tail_dependence_matches_numpy_replay(spark, sf_dir):
    """tail_dependence equals a numpy replay of quartile joint-
    exceedance counting with day tiebreaks."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _TD_A,
        _TD_B,
        tail_dependence,
    )

    row = tail_dependence(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    d = d[d["event_type"].isin([_TD_A, _TD_B])]
    p = (
        d.pivot_table(index="day", columns="event_type", values="cents",
                      aggfunc="sum", fill_value=0)
        .sort_index()
    )
    n = len(p)
    k = n // 4
    rp = p[_TD_A].rank(method="first").to_numpy()  # day order == index order
    rc = p[_TD_B].rank(method="first").to_numpy()
    up = int(((rp > n - k) & (rc > n - k)).sum())
    lo = int(((rp <= k) & (rc <= k)).sum())
    assert row["n_days"] == n and row["k"] == k
    assert row["joint_up"] == up and row["joint_lo"] == lo
    assert abs(row["lambda_upper"] - up / k) < 1e-6  # 6-dp in-query round
    assert abs(row["lambda_lower"] - lo / k) < 1e-6
    assert 0 <= row["lambda_upper"] <= 1


def test_adstock_matches_python_replay(spark, sf_dir):
    """adstock_correlation equals a python replay of the shift-fold
    carryover and both Pearson correlations."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        adstock_correlation,
    )

    row = adstock_correlation(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.assign(day=e["ts"].dt.floor("D"))
    daily = (
        d.groupby("day")
        .agg(
            x=("event_type", lambda s: int((s == "click").sum())),
            y=("event_type", lambda s: int((s == "purchase").sum())),
        )
        .sort_index()
    )
    a, ads = 0, []
    for x in daily["x"]:
        a = int(x) + (a >> 1)
        ads.append(a)
    x = daily["x"].to_numpy().astype("float64")
    y = daily["y"].to_numpy().astype("float64")
    a = np.array(ads, dtype="float64")
    r_raw = np.corrcoef(x, y)[0, 1]
    r_ad = np.corrcoef(a, y)[0, 1]
    assert row["n_days"] == len(daily)
    assert abs(row["r_raw"] - r_raw) < 1e-5
    assert abs(row["r_adstock"] - r_ad) < 1e-5
    assert abs(row["carryover_lift"] - (r_ad - r_raw)) < 1e-5


def test_nelson_aalen_matches_km_machinery(spark, sf_dir):
    """nelson_aalen: same at-risk/event counts as kaplan_meier, the
    hazard cumulates d/n exactly, and exp(-H) upper-bounds the KM
    survival (Nelson-Aalen vs product-limit inequality)."""
    import numpy as np

    from dissertation_iceberg_spark.queries.stats_tests import kaplan_meier
    from dissertation_iceberg_spark.queries.stats_tests2 import nelson_aalen

    na = nelson_aalen(spark, sf_dir).toPandas().sort_values("t_day")
    km = kaplan_meier(spark, sf_dir).toPandas().sort_values("t_day")
    m = na.merge(km, on="t_day", suffixes=("_na", "_km"))
    assert (m["n_risk_na"] == m["n_risk_km"]).all()
    assert (m["n_event_na"] == m["n_event_km"]).all()
    h = 0.0
    for r in na.itertuples():
        h += round(r.n_event / r.n_risk * 1e9) / 1e9
        assert abs(r.cum_hazard - h) < 1e-5
    # exp(-H) >= S everywhere (strict when d>1 ties exist)
    s_hat = np.exp(-m["cum_hazard"].to_numpy())
    assert (s_hat >= m["surv"].to_numpy() - 1e-9).all()


def test_cluster_validity_matches_numpy_replay(spark, sf_dir):
    """cluster_validity_indices equals a numpy replay at micro
    rounding grain; CH positive, DB positive."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.extensions import (
        cluster_validity_indices,
    )

    row = cluster_validity_indices(spark, sf_dir).toPandas().iloc[0]
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    X = np.array(
        [np.floor(np.asarray(v, dtype="float64") * 1e6 + 0.5) for v in
         emb["embedding"]]
    )  # micro-quantized
    y = emb["label"].to_numpy()
    labels = np.unique(y)
    k, n = len(labels), len(X)
    cents = {l: X[y == l].sum(axis=0) / (y == l).sum() / 1e6 for l in labels}
    g = X.sum(axis=0) / n / 1e6
    Xd = X / 1e6

    def rdim(v):  # per-dim micro-round then exact sum
        return np.floor(v * 1e6 + 0.5).sum() / 1e6

    w = sum(
        sum(rdim((Xd[i] - cents[l]) ** 2) for i in np.where(y == l)[0])
        for l in labels
    )
    b = sum(
        (y == l).sum() * rdim((cents[l] - g) ** 2) for l in labels
    )
    s = {
        l: np.mean(
            [
                np.floor(
                    np.sqrt(rdim((Xd[i] - cents[l]) ** 2)) * 1e6 + 0.5
                )
                / 1e6
                for i in np.where(y == l)[0]
            ]
        )
        for l in labels
    }
    db = np.mean(
        [
            np.floor(
                max(
                    (s[a] + s[bb])
                    / np.sqrt(rdim((cents[a] - cents[bb]) ** 2))
                    for bb in labels
                    if bb != a
                )
                * 1e6
                + 0.5
            )
            / 1e6
            for a in labels
        ]
    )
    ch = (b / (k - 1)) / (w / (n - k))
    assert row["k"] == k and row["n"] == n
    assert abs(row["within_ss"] - w) < 1e-3
    assert abs(row["between_ss"] - b) < 1e-3
    assert abs(row["calinski_harabasz"] - ch) < 1e-3
    assert abs(row["davies_bouldin"] - db) < 1e-4
    assert row["calinski_harabasz"] > 0 and row["davies_bouldin"] > 0


def test_gmm_em_matches_python_replay(spark, sf_dir):
    """gmm_em_1d equals a python replay of the quantized EM recursion
    on the value histogram (same grains, same rounding)."""
    import math
    from collections import Counter

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        _GMM_ITERS,
        _GMM_RQ,
        gmm_em_1d,
    )

    row = gmm_em_1d(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    p = e[e["event_type"] == "purchase"]
    v = np.floor(p["value"] * 100 + 0.5).astype("int64")
    hist = Counter(v.tolist())
    vs = np.array(sorted(hist))
    cnts = np.array([hist[x] for x in vs], dtype="int64")
    n = int(cnts.sum())
    cum = np.cumsum(cnts)
    mu1q = int(vs[np.searchsorted(cum, (n + 3) // 4)]) * 10_000
    mu2q = int(vs[np.searchsorted(cum, (3 * n + 3) // 4)]) * 10_000
    sv = int((cnts * vs).sum())
    svv = int((cnts * vs * vs).sum())
    var0 = svv / n - (sv / n) ** 2
    v1q = max(int(np.floor(var0 * 1e2 + 0.5)), 1)
    v2q = v1q
    w1d = 0.5
    for _ in range(_GMM_ITERS):
        lnw = round(math.log((1 - w1d) / w1d) * 1e6) / 1e6
        lnv = round(0.5 * math.log((v1q / 1e2) / (v2q / 1e2)) * 1e6) / 1e6
        m1, m2 = mu1q / 1e4, mu2q / 1e4
        va1, va2 = v1q / 1e2, v2q / 1e2
        ell = (
            lnw
            + lnv
            + (vs - m1) ** 2 / (2 * va1)
            - (vs - m2) ** 2 / (2 * va2)
        )
        rq = np.floor(_GMM_RQ / (1 + np.exp(ell)) + 0.5).astype("int64")
        n1q = int((cnts * rq).sum())
        n2q = int((cnts * (_GMM_RQ - rq)).sum())
        s1 = int((cnts * rq * vs).sum())
        s2 = int((cnts * (_GMM_RQ - rq) * vs).sum())
        ss1 = int((cnts * rq * vs * vs).sum())
        ss2 = int((cnts * (_GMM_RQ - rq) * vs * vs).sum())
        w1d = n1q / (n1q + n2q)
        m1n, m2n = s1 / n1q, s2 / n2q
        mu1q = round(m1n * 1e4)
        mu2q = round(m2n * 1e4)
        v1q = max(round((ss1 / n1q - m1n * m1n) * 1e2), 1)
        v2q = max(round((ss2 / n2q - m2n * m2n) * 1e2), 1)
    assert row["n"] == n
    assert abs(row["w1"] - w1d) < 1e-5
    assert abs(row["mu1_dollars"] - mu1q / 1e4 / 100) < 1e-5
    assert abs(row["mu2_dollars"] - mu2q / 1e4 / 100) < 1e-5
    assert abs(row["sigma1_dollars"] - math.sqrt(v1q / 1e2) / 100) < 1e-5
    assert abs(row["sigma2_dollars"] - math.sqrt(v2q / 1e2) / 100) < 1e-5
    assert 0 < row["w1"] < 1
    assert row["sigma1_dollars"] > 0 and row["sigma2_dollars"] > 0


def test_platt_scaling_matches_python_replay(spark, sf_dir):
    """platt_scaling equals a python replay of the quantized Newton
    recursion; Brier beats the trivial base-rate predictor or ties
    within quantization noise."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _GAINS_SPLIT,
        _MCN_THR,
        _PLATT_ITERS,
        _PLATT_PG,
        _PLATT_XG,
        platt_scaling,
    )

    row = platt_scaling(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    split = np.datetime64(_GAINS_SPLIT)
    h = e[e["ts"] < split]
    hist = h.groupby("user_id").agg(
        n_ev=("event_type", "size"),
        n_p=("event_type", lambda s: int((s == "purchase").sum())),
    )
    fut = set(
        e.loc[
            (e["ts"] >= split)
            & (e["event_type"] == "purchase")
            & (e["value"] > _MCN_THR),
            "user_id",
        ]
    )
    xq = np.array(
        [
            int(np.floor((p_cnt * 1_000_000 // ne) / 1000.0 + 0.5))
            for p_cnt, ne in zip(hist["n_p"], hist["n_ev"])
        ]
    )
    y = np.array([int(u in fut) for u in hist.index])
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for x, yy in zip(xq, y):
        agg[int(x)][0] += 1
        agg[int(x)][1] += yy
    xs = np.array(sorted(agg))
    ns = np.array([agg[x][0] for x in xs], dtype="int64")
    pos = np.array([agg[x][1] for x in xs], dtype="int64")
    aq = bq = 0
    PG, XG = float(_PLATT_PG), float(_PLATT_XG)
    for _ in range(_PLATT_ITERS):
        pq = np.floor(
            _PLATT_PG / (1 + np.exp(-(aq / 1e6 + bq / 1e6 * xs / XG))) + 0.5
        ).astype("int64")
        resid = pos * _PLATT_PG - ns * pq
        wgt = ns * pq * (_PLATT_PG - pq)
        ga = int(resid.sum()) / PG
        gb = int((xs * resid).sum()) / (PG * XG)
        haa = int(wgt.sum()) / (PG * PG)
        hab = int((xs * wgt).sum()) / (PG * PG) / XG
        hbb = int((xs * xs * wgt).sum()) / (PG * PG) / (XG * XG)
        det = haa * hbb - hab * hab
        aq += round((ga * hbb - gb * hab) / det * 1e6)
        bq += round((haa * gb - hab * ga) / det * 1e6)
    pq = np.floor(
        _PLATT_PG / (1 + np.exp(-(aq / 1e6 + bq / 1e6 * xs / XG))) + 0.5
    ).astype("int64")
    b_num = int(
        (pos * (_PLATT_PG - pq) ** 2 + (ns - pos) * pq * pq).sum()
    )
    n = int(ns.sum())
    assert row["n"] == n
    assert abs(row["intercept"] - aq / 1e6) < 1e-6
    assert abs(row["slope"] - bq / 1e6) < 1e-6
    assert abs(row["brier"] - b_num / (PG * PG) / n) < 1e-6
    base = pos.sum() / n
    brier_base = base * (1 - base)  # base-rate predictor's Brier
    assert row["brier"] <= brier_base + 1e-3


def test_hmm_forward_matches_python_replay(spark, sf_dir):
    """hmm_forward_loglik equals a python replay of the quantized
    scaled-forward recursion, and the HMM never beats the saturated
    bound nor loses to a broken recursion (finite LR)."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        _HMM_EMIT,
        _HMM_STAY,
        hmm_forward_loglik,
    )

    row = hmm_forward_loglik(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    daily = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    diffs = np.diff(daily)
    ds = (diffs[diffs != 0] > 0).astype(int)
    a1q, ll = 500_000, 0
    for d in ds:
        a1 = a1q / 1e6
        e1 = _HMM_EMIT if d == 1 else 1 - _HMM_EMIT
        e2 = 1 - _HMM_EMIT if d == 1 else _HMM_EMIT
        u1 = e1 * (a1 * _HMM_STAY + (1 - a1) * (1 - _HMM_STAY))
        u2 = e2 * (a1 * (1 - _HMM_STAY) + (1 - a1) * _HMM_STAY)
        a1q = round(u1 / (u1 + u2) * 1e6)
        ll += round(math.log(u1 + u2) * 1e6)
    n, n_up = len(ds), int(ds.sum())
    ll0 = n_up * round(math.log(n_up / n) * 1e6) + (n - n_up) * round(
        math.log(1 - n_up / n) * 1e6
    )
    assert row["n"] == n and row["n_up"] == n_up
    assert abs(row["loglik_hmm"] - ll / 1e6) < 1e-5
    assert abs(row["loglik_null"] - ll0 / 1e6) < 1e-5
    assert abs(row["lr_stat"] - 2 * (ll - ll0) / 1e6) < 1e-4
    # both log-likelihoods are proper (negative) and finite
    assert row["loglik_hmm"] < 0 and row["loglik_null"] < 0


def test_wilcoxon_signed_rank_matches_numpy_replay(spark, sf_dir):
    """wilcoxon_signed_rank equals a numpy midrank replay of the
    per-user half-to-half mean-change ranks."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        wilcoxon_signed_rank,
    )

    row = wilcoxon_signed_rank(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    lo, hi = int(us.min()), int(us.max())
    first = us * 2 < lo + hi
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, first=first)
    g = d.groupby(["user_id", "first"])["cents"].agg(["sum", "count"])
    ds = []
    for u in d["user_id"].unique():
        try:
            m1 = g.loc[(u, True)]
            m2 = g.loc[(u, False)]
        except KeyError:
            continue
        diff = round((m2["sum"] / m2["count"] - m1["sum"] / m1["count"]) * 100)
        if diff != 0:
            ds.append(int(diff))
    ad = np.abs(ds)
    uniq, inv, counts = np.unique(ad, return_inverse=True, return_counts=True)
    cumb = np.concatenate(([0], np.cumsum(counts)[:-1]))
    midrank = cumb + (counts + 1) / 2
    ranks = midrank[inv]
    wp = float(ranks[np.array(ds) > 0].sum())
    n = len(ds)
    mu = n * (n + 1) / 4
    var = n * (n + 1) * (2 * n + 1) / 24 - float(
        ((counts**3) - counts).sum()
    ) / 48
    assert row["n"] == n
    assert abs(row["w_plus"] - wp) < 1e-6
    assert abs(row["w_expected"] - mu) < 1e-6
    assert abs(row["z_stat"] - (wp - mu) / np.sqrt(var)) < 1e-5


def test_viterbi_regimes_consistency(spark, sf_dir):
    """hmm_viterbi_regimes: one row per direction day, regimes are
    0/1, a python Viterbi replay reproduces the path and score, and
    the decoded path tracks the direction sequence."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        _V_DN_BULL,
        _V_PRIOR,
        _V_STAY,
        _V_SW,
        _V_UP_BULL,
        hmm_viterbi_regimes,
    )

    pdf = (
        hmm_viterbi_regimes(spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    daily = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    diffs = np.diff(daily)
    ds = (diffs[diffs != 0] > 0).astype(int).tolist()
    d1 = d2 = _V_PRIOR
    p1, p2 = [], []
    for d in ds:
        e1 = _V_UP_BULL if d == 1 else _V_DN_BULL
        e2 = _V_DN_BULL if d == 1 else _V_UP_BULL
        nd1 = e1 + max(d1 + _V_STAY, d2 + _V_SW)
        nd2 = e2 + max(d1 + _V_SW, d2 + _V_STAY)
        np1 = (p1 if d1 + _V_STAY >= d2 + _V_SW else p2) + [1]
        np2 = (p1 if d1 + _V_SW >= d2 + _V_STAY else p2) + [0]
        d1, d2, p1, p2 = nd1, nd2, np1, np2
    path = p1 if d1 >= d2 else p2
    score = max(d1, d2)
    assert len(pdf) == len(ds)
    assert pdf["regime"].isin([0, 1]).all()
    assert pdf["regime"].tolist() == path
    assert pdf["direction"].tolist() == ds
    assert abs(pdf["path_logprob"].iloc[0] - score / 1e6) < 1e-9


def test_embedding_mmd_matches_numpy_replay(spark, sf_dir):
    """embedding_mmd_quadratic equals the Frobenius distance between
    the two labels' second-moment matrices in numpy (micro grain)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.extensions import (
        _MMD_LA,
        _MMD_LB,
        embedding_mmd_quadratic,
    )

    row = embedding_mmd_quadratic(spark, sf_dir).toPandas().iloc[0]
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    emb = emb[emb["label"].isin([_MMD_LA, _MMD_LB])]

    def second_moment(label):
        X = np.array(
            [
                np.floor(np.asarray(v, dtype="float64") * 1e6 + 0.5)
                for v in emb.loc[emb["label"] == label, "embedding"]
            ]
        )
        return (X.T @ X) / len(X) / 1e12, len(X)

    ga, na = second_moment(_MMD_LA)
    gb, nb = second_moment(_MMD_LB)
    d = ga - gb
    mmd2 = np.floor(d * d * 1e12 + 0.5).sum() / 1e12
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["n_cells"] == ga.size
    assert abs(row["mmd2_quadratic"] - mmd2) < 1e-5
    assert row["mmd2_quadratic"] >= 0


def test_taylor_power_law_matches_numpy_replay(spark, sf_dir):
    """taylor_power_law equals a numpy replay of the micro-log OLS
    over (type, weekday) mean/variance cells."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        taylor_power_law,
    )

    row = taylor_power_law(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.assign(day=e["ts"].dt.floor("D"))
    daily = (
        d.groupby(["event_type", "day"]).size().rename("c").reset_index()
    )
    epoch = np.datetime64("1970-01-01")
    daily["dow"] = (((daily["day"] - epoch).dt.days) + 3) % 7
    lx, ly = [], []
    for _, g in daily.groupby(["event_type", "dow"]):
        c = g["c"].to_numpy().astype("float64")
        if len(c) >= 2 and c.var(ddof=1) > 0:
            lx.append(round(np.log(c.mean()) * 1e6))
            ly.append(round(np.log(c.var(ddof=1)) * 1e6))
    lx, ly = np.array(lx, dtype="float64"), np.array(ly, dtype="float64")
    n = len(lx)
    slope = (n * (lx * ly).sum() - lx.sum() * ly.sum()) / (
        n * (lx * lx).sum() - lx.sum() ** 2
    )
    assert row["n_cells"] == n
    assert abs(row["taylor_slope"] - slope) < 1e-4
    assert 0 < row["taylor_slope"] < 3  # physically sensible exponent


def test_ratio_metric_delta_matches_numpy_replay(spark, sf_dir):
    """ratio_metric_delta equals the textbook delta-method formulas
    replayed in numpy over per-user (revenue, events) pairs."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        ratio_metric_delta,
    )

    row = ratio_metric_delta(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    u = d.groupby("user_id").agg(
        x=("cents", lambda s: 0),  # placeholder, fixed below
        y=("cents", "size"),
    )
    x = (
        d[d["event_type"] == "purchase"].groupby("user_id")["cents"].sum()
    )
    u["x"] = x.reindex(u.index).fillna(0).astype("int64")

    def arm_stats(mask):
        g = u[mask]
        n = len(g)
        xv = g["x"].to_numpy().astype("float64")
        yv = g["y"].to_numpy().astype("float64")
        r = xv.sum() / yv.sum()
        my = yv.mean()
        vx, vy = xv.var(ddof=1), yv.var(ddof=1)
        cxy = np.cov(xv, yv, ddof=1)[0, 1]
        var_r = (vx - 2 * r * cxy + r * r * vy) / (my * my) / n
        return n, r, var_r

    arms = (u.index % 2).astype(int)
    nt, rt, vt = arm_stats(arms == 1)
    nc, rc, vc = arm_stats(arms == 0)
    assert row["n_treat"] == nt and row["n_ctrl"] == nc
    assert abs(row["ratio_treat"] - rt / 100) < 1e-6
    assert abs(row["ratio_ctrl"] - rc / 100) < 1e-6
    assert abs(row["z_stat"] - (rt - rc) / np.sqrt(vt + vc)) < 1e-4


def test_gpd_pot_fit_matches_numpy_replay(spark, sf_dir):
    """gpd_pot_fit equals a numpy replay of the MoM GPD fit over p90
    exceedances; the extrapolated VaR exceeds the threshold."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        _GPD_Q_DEN,
        _GPD_Q_NUM,
        gpd_pot_fit,
    )

    row = gpd_pot_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    c = np.sort(
        np.floor(
            e.loc[e["event_type"] == "purchase", "value"] * 100 + 0.5
        ).astype("int64").to_numpy()
    )
    n = len(c)
    u = int(c[(_GPD_Q_NUM * n + _GPD_Q_DEN - 1) // _GPD_Q_DEN - 1])
    x = (c[c > u] - u).astype("float64")
    nu = len(x)
    m, vv = x.mean(), x.var(ddof=1)
    xi = 0.5 * (1 - m * m / vv)
    beta = 0.5 * m * (m * m / vv + 1)
    powq = round((n / nu * (1 - 0.999)) ** (-xi) * 1e6) / 1e6
    var999 = (u + beta / xi * (powq - 1)) / 100
    assert row["n_exceedances"] == nu
    assert abs(row["threshold_dollars"] - u / 100) < 1e-9
    assert abs(row["xi"] - xi) < 1e-5
    assert abs(row["beta_dollars"] - beta / 100) < 1e-4
    assert abs(row["var_999_dollars"] - var999) < 1e-3
    assert row["var_999_dollars"] > row["threshold_dollars"]


def test_hill_diversity_matches_python_replay(spark, sf_dir):
    """hill_diversity equals a python replay; the Hill ladder is
    monotone: richness >= exp(H) >= inverse Simpson."""
    import math
    from collections import Counter

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        hill_diversity,
    )

    pdf = hill_diversity(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    for src, grp in docs.groupby("source"):
        tf = Counter(
            t for text in grp["text"] for t in text.split(" ") if t != ""
        )
        n = sum(tf.values())
        h_nano = sum(
            round(-(f / n) * math.log(f / n) * 1e9) for f in tf.values()
        )
        q0 = len(tf)
        q1 = math.exp(h_nano / 1e9)
        q2 = n * n / sum(f * f for f in tf.values())
        row = pdf[pdf["source"] == src].iloc[0]
        assert row["n_tokens"] == n and row["hill_q0"] == q0
        assert abs(row["hill_q1"] - q1) < 1e-4
        assert abs(row["hill_q2"] - q2) < 1e-4
        assert row["hill_q0"] >= row["hill_q1"] >= row["hill_q2"] > 0


def test_ordinal_association_matches_python_replay(spark, sf_dir):
    """ordinal_association equals a python concordance replay over the
    contingency table; gamma and Somers' D are within [-1, 1] with
    |gamma| >= |somers_d|."""
    import numpy as np
    from collections import Counter

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        ordinal_association,
    )

    row = ordinal_association(spark, sf_dir).toPandas().iloc[0]
    o = load_table(spark, sf_dir, "orders").toPandas()
    x = o["o_orderpriority"].str[0].astype(int).to_numpy()
    y = np.minimum(
        o["o_totalprice"].astype("int64") // 100000, 4
    ).to_numpy()
    cells = Counter(zip(x.tolist(), y.tolist()))
    C = D = T = 0
    items = list(cells.items())
    for (xa, ya), na in items:
        for (xb, yb), nb in items:
            if xb > xa and yb > ya:
                C += na * nb
            elif xb > xa and yb < ya:
                D += na * nb
            elif xb > xa and yb == ya:
                T += na * nb
    assert row["n_rows"] == len(x)
    assert row["concordant"] == C and row["discordant"] == D
    gamma = (C - D) / (C + D)
    sd = (C - D) / (C + D + T)
    assert abs(row["gamma"] - gamma) < 1e-6
    assert abs(row["somers_d"] - sd) < 1e-6
    assert -1 <= row["somers_d"] <= 1 and -1 <= row["gamma"] <= 1
    assert abs(row["gamma"]) >= abs(row["somers_d"]) - 1e-12


def test_hill_tail_matches_numpy_replay(spark, sf_dir):
    """hill_tail_estimator equals a numpy replay of the top-k
    log-excess mean with exact boundary-tie weighting."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        _HILL_K_DEN,
        _HILL_K_NUM,
        hill_tail_estimator,
    )

    row = hill_tail_estimator(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    c = np.sort(
        np.floor(
            e.loc[
                (e["event_type"] == "purchase") & (e["value"] > 0), "value"
            ]
            * 100
            + 0.5
        )
        .astype("int64")
        .to_numpy()
    )[::-1]  # descending
    n = len(c)
    k = (_HILL_K_NUM * n) // _HILL_K_DEN
    x_k = int(c[k])  # (k+1)-th largest
    top = c[:k]
    top = top[top > x_k]  # strict excesses (ties with x_k contribute 0)
    lsum_nano = sum(round(np.log(v / x_k) * 1e9) for v in top)
    k_used = len(top)
    assert row["n"] == n
    assert row["x_k_dollars"] == x_k / 100
    assert row["k_used"] == k_used
    assert abs(row["mean_log_excess"] - lsum_nano / k_used / 1e9) < 1e-6
    assert abs(row["hill_alpha"] - k_used * 1e9 / lsum_nano) < 1e-4
    assert row["hill_alpha"] > 0


def test_odds_ratio_ci_matches_numpy_replay(spark, sf_dir):
    """odds_ratio_ci equals a numpy replay of the 2x2 Wald intervals;
    point estimates sit inside their own CIs."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _MCN_THR,
        odds_ratio_ci,
    )

    row = odds_ratio_ci(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    hit = (e["event_type"] == "purchase") & (e["value"] > _MCN_THR)
    users = e.groupby("user_id").size().index
    conv = set(e.loc[hit, "user_id"])
    a = sum(1 for u in users if u % 2 == 1 and u in conv)
    b = sum(1 for u in users if u % 2 == 1 and u not in conv)
    c = sum(1 for u in users if u % 2 == 0 and u in conv)
    d = sum(1 for u in users if u % 2 == 0 and u not in conv)
    rr = (a / (a + b)) / (c / (c + d))
    orr = (a * d) / (b * c)
    lrr = round(math.log(rr) * 1e6) / 1e6
    lor = round(math.log(orr) * 1e6) / 1e6
    se_lrr = math.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    se_lor = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    z = 1.959963985
    assert (row["treat_pos"], row["treat_neg"]) == (a, b)
    assert (row["ctrl_pos"], row["ctrl_neg"]) == (c, d)
    assert abs(row["relative_risk"] - rr) < 1e-6
    assert abs(row["odds_ratio"] - orr) < 1e-6
    assert abs(row["rr_ci_lo"] - math.exp(lrr - z * se_lrr)) < 1e-4
    assert abs(row["or_ci_hi"] - math.exp(lor + z * se_lor)) < 1e-4
    assert row["rr_ci_lo"] <= row["relative_risk"] <= row["rr_ci_hi"]
    assert row["or_ci_lo"] <= row["odds_ratio"] <= row["or_ci_hi"]


def test_community_modularity_matches_python_replay(spark, sf_dir):
    """community_modularity equals a python replay of Newman's Q over
    the distinct co-purchase pairs labeled by brand; |Q| <= 1."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.graph_ops import (
        community_modularity,
    )

    row = community_modularity(spark, sf_dir).toPandas().iloc[0]
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    part = load_table(spark, sf_dir, "part").toPandas()
    brand = dict(zip(part["p_partkey"], part["p_brand"]))
    baskets = defaultdict(set)
    for o, p in set(zip(li["l_orderkey"], li["l_partkey"])):
        baskets[o].add(p)
    edges = set()
    for b in baskets.values():
        for pa, pb in combinations(sorted(b), 2):
            edges.add((pa, pb))
    m = len(edges)
    e_in = Counter()
    deg = Counter()
    for pa, pb in edges:
        ba, bb = brand[pa], brand[pb]
        deg[ba] += 1
        deg[bb] += 1
        if ba == bb:
            e_in[ba] += 1
    q_num = sum(4 * m * e_in[c] - deg[c] ** 2 for c in deg)
    q = q_num / (4 * m * m)
    assert row["n_edges"] == m
    assert row["n_communities"] == len(deg)
    assert row["n_within_edges"] == sum(e_in.values())
    assert abs(row["modularity"] - q) < 1e-6
    assert -1 <= row["modularity"] <= 1


def test_covariate_balance_matches_numpy_replay(spark, sf_dir):
    """covariate_balance equals numpy SMDs per covariate, and parity
    arms on the fixtures are balanced (randomization sanity)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        covariate_balance,
    )

    pdf = covariate_balance(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    u = d.groupby("user_id").agg(
        n_events=("cents", "size"),
        total_cents=("cents", "sum"),
    )
    u["n_purchase"] = (
        d[d["event_type"] == "purchase"].groupby("user_id").size()
        .reindex(u.index).fillna(0).astype("int64")
    )
    u["n_error"] = (
        d[d["event_type"] == "error"].groupby("user_id").size()
        .reindex(u.index).fillna(0).astype("int64")
    )
    arm = (u.index % 2).astype(int)
    assert len(pdf) == 4
    for cov in ("n_events", "total_cents", "n_purchase", "n_error"):
        x = u[cov].to_numpy().astype("float64")
        t, c = x[arm == 1], x[arm == 0]
        smd = (t.mean() - c.mean()) / np.sqrt(
            (t.var(ddof=1) + c.var(ddof=1)) / 2
        )
        row = pdf[pdf["covariate"] == cov].iloc[0]
        assert row["n_treat"] == len(t) and row["n_ctrl"] == len(c)
        assert abs(row["smd"] - smd) < 1e-5
        assert row["imbalanced"] == int(abs(smd) > 0.1)


def test_ece_matches_python_replay(spark, sf_dir):
    """expected_calibration_error equals a python replay over score
    deciles; ECE <= MCE and both in [0, 1]."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _ECE_BINS,
        _GAINS_SPLIT,
        expected_calibration_error,
    )

    row = expected_calibration_error(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    split = np.datetime64(_GAINS_SPLIT)
    h = e[e["ts"] < split]
    hist = h.groupby("user_id").agg(
        n_ev=("event_type", "size"),
        n_p=("event_type", lambda s: int((s == "purchase").sum())),
    )
    fut = set(
        e.loc[
            (e["ts"] >= split) & (e["event_type"] == "purchase"), "user_id"
        ]
    )
    s_micro = (hist["n_p"] * 1_000_000) // hist["n_ev"]
    y = np.array([int(u in fut) for u in hist.index])
    bins = np.minimum(s_micro // (1_000_000 // _ECE_BINS), _ECE_BINS - 1)
    n_tot = len(y)
    ece_micro = 0
    mce_micro = 0
    for b in np.unique(bins):
        m = bins == b
        gap = abs(int(s_micro[m].sum()) - int(y[m].sum()) * 1_000_000)
        ece_micro += gap
        mce_micro = max(mce_micro, round(gap / int(m.sum())))
    assert row["n_tot"] == n_tot
    assert abs(row["ece"] - ece_micro / n_tot / 1e6) < 1e-6
    assert abs(row["mce"] - mce_micro / 1e6) < 1e-6
    assert 0 <= row["ece"] <= row["mce"] <= 1


def test_zero_inflation_matches_pandas_replay(spark, sf_dir):
    """zero_inflation_check equals a pandas replay of the complete
    (user, day) grid zero accounting."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        zero_inflation_check,
    )

    row = zero_inflation_check(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    users = e["user_id"].nunique()
    days = e["ts"].dt.floor("D").nunique()
    p = e[e["event_type"] == "purchase"]
    counts = p.groupby(["user_id", p["ts"].dt.floor("D")]).size()
    n = users * days
    total = int(counts.sum())
    n_zero = n - len(counts)
    lam = total / n
    pz = round(math.exp(-lam) * 1e9) / 1e9
    assert row["n_cells"] == n and row["n_zero"] == n_zero
    assert abs(row["lambda_hat"] - lam) < 1e-6
    assert abs(row["poisson_zero_rate"] - pz) < 1e-6
    assert abs(row["zero_inflation_ratio"] - (n_zero / n) / pz) < 1e-4


def test_matrix_profile_matches_numpy_replay(spark, sf_dir):
    """matrix_profile_lite equals a numpy replay of the unnormalized
    Euclidean profile with exclusion zone; exactly >= 2 windows carry
    the global motif flag (motif pairs are symmetric)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        _MP_EXCL,
        _MP_W,
        matrix_profile_lite,
    )

    pdf = (
        matrix_profile_lite(spark, sf_dir)
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    daily = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    n = len(daily)
    wins = [daily[i : i + _MP_W] for i in range(n - _MP_W + 1)]
    rows = []
    for i, wa in enumerate(wins, start=1):
        best = None
        for j, wb in enumerate(wins, start=1):
            if abs(i - j) < _MP_EXCL:
                continue
            d2 = int(((wa - wb) ** 2).sum())
            if best is None or (d2, j) < best:
                best = (d2, j)
        rows.append((i, best[0], best[1]))
    assert len(pdf) == len(rows)
    gmin = min(r[1] for r in rows)
    for (i, d2, j), r in zip(rows, pdf.itertuples()):
        assert r.i == i and r.mp_dist2 == d2 and r.motif_j == j
        assert r.is_global_motif == int(d2 == gmin)
    assert pdf["is_global_motif"].sum() >= 2


def test_jarque_bera_matches_numpy_replay(spark, sf_dir):
    """jarque_bera equals numpy central-moment skew/kurt/JB at dollar
    quantization; JB is nonnegative."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import jarque_bera

    pdf = jarque_bera(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    dollars = np.floor(e["value"] + 0.5).astype("int64")
    d = e.assign(c=dollars)
    for t, g in d.groupby("event_type"):
        x = g["c"].to_numpy().astype("float64")
        n = len(x)
        mu = x.mean()
        mu2 = ((x - mu) ** 2).mean()
        mu3 = ((x - mu) ** 3).mean()
        mu4 = ((x - mu) ** 4).mean()
        g1 = mu3 / mu2**1.5
        g2 = mu4 / mu2**2 - 3
        jb = n / 6 * (g1**2 + g2**2 / 4)
        row = pdf[pdf["event_type"] == t].iloc[0]
        assert row["n"] == n
        assert abs(row["skewness"] - g1) < 1e-4
        assert abs(row["excess_kurtosis"] - g2) < 1e-4
        assert abs(row["jarque_bera"] - jb) < max(1e-2, jb * 1e-4)
        assert row["jarque_bera"] >= 0


def test_vocab_knee_matches_python_replay(spark, sf_dir):
    """vocab_coverage_knee equals a python Kneedle replay (exact
    cross-product distances); the knee covers a supermajority of
    tokens with a minority of the vocabulary."""
    from collections import Counter

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        vocab_coverage_knee,
    )

    row = vocab_coverage_knee(spark, sf_dir).toPandas().iloc[0]
    docs = load_table(spark, sf_dir, "documents").toPandas()
    tf = Counter(
        t for text in docs["text"] for t in text.split(" ") if t != ""
    )
    items = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    v, n = len(items), sum(tf.values())
    cum = 0
    best = None
    for r, (_, f) in enumerate(items, start=1):
        cum += f
        d = abs(n * r - v * cum)
        if best is None or d > best[0]:
            best = (d, r, cum)
    assert row["vocab_size"] == v and row["total_tokens"] == n
    assert row["knee_rank"] == best[1]
    assert row["coverage_at_knee"] == best[2]
    # the coverage curve is concave (terms sorted by falling frequency),
    # so the knee always sits on or above the chord
    assert row["coverage_share"] >= row["rank_share"] - 1e-9


def test_dedup_eval_consistency(spark, sf_dir):
    """dedup_eval: true positives bounded by both arms and every
    metric consistent with its defining counts."""
    from dissertation_iceberg_spark.queries.extensions import dedup_eval

    row = dedup_eval(spark, sf_dir).toPandas().iloc[0]
    assert 0 <= row["tp"] <= min(row["n_cand"], row["n_truth"])
    if row["n_cand"] > 0:
        assert abs(row["precision"] - row["tp"] / row["n_cand"]) < 1e-6
    if row["n_truth"] > 0:
        assert abs(row["recall"] - row["tp"] / row["n_truth"]) < 1e-6
    if row["n_cand"] + row["n_truth"] > 0:
        assert (
            abs(row["f1"] - 2 * row["tp"] / (row["n_cand"] + row["n_truth"]))
            < 1e-6
        )


def test_sample_representativeness_replay(spark, sf_dir):
    """sample_representativeness equals a python replay of the
    hash-sample PSI; the deterministic 10% sample is representative
    on the fixtures."""
    import hashlib
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _SR_PCT,
        sample_representativeness,
    )

    row = sample_representativeness(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    bins = np.minimum(cents // 2500, 9)
    h = np.array(
        [
            int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 100
            for k in e["event_id"]
        ]
    )
    samp = h < _SR_PCT
    psi_nano = 0
    n_bins = 0
    nf, ns = len(e), int(samp.sum())
    for b in np.unique(bins):
        m = bins == b
        cf, cs = int(m.sum()), int((m & samp).sum())
        if cf > 0 and cs > 0:
            n_bins += 1
            pf, psh = cf / nf, cs / ns
            psi_nano += round((psh - pf) * math.log(psh / pf) * 1e9)
    assert row["n_bins"] == n_bins
    assert row["n_sample"] == ns
    assert abs(row["psi"] - psi_nano / 1e9) < 1e-6
    assert row["representative"] == 1  # 10% md5 sample is unbiased


def test_ipf_raking_margins_converge(spark, sf_dir):
    """ipf_raking: rake factors are positive, the raked column margin
    is exactly uniform (last scaling), and the residual row error is
    small after two iterations."""
    from dissertation_iceberg_spark.queries.stats_tests2 import ipf_raking

    pdf = ipf_raking(spark, sf_dir).toPandas()
    assert (pdf["rake_factor"] > 0).all()
    # raked cell mass: n * rake_factor; columns were scaled last
    pdf["mass"] = pdf["n"] * pdf["rake_factor"]
    col = pdf.groupby("dow")["mass"].sum()
    target = pdf["mass"].sum() / pdf["dow"].nunique()
    assert ((col - target).abs() / target < 1e-4).all()
    assert (pdf["max_row_err"] < 0.05).all()


def test_record_highs_matches_python_replay(spark, sf_dir):
    """record_highs equals a python replay of running-max record
    counting and the harmonic expectation/variance."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        record_highs,
    )

    pdf = record_highs(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    daily = (
        d.groupby(["event_type", "day"])["cents"].sum().reset_index()
    )
    for t, g in daily.sort_values("day").groupby("event_type"):
        v = g["cents"].to_numpy()
        n = len(v)
        records = 1 + int(
            (v[1:] > np.maximum.accumulate(v)[:-1]).sum()
        )
        h_nano = sum(round(1e9 / i) for i in range(1, n + 1))
        v_nano = sum(
            round(1e9 / i) - round(1e9 / (i * i)) for i in range(1, n + 1)
        )
        row = pdf[pdf["event_type"] == t].iloc[0]
        assert row["n_days"] == n
        assert row["n_records"] == records
        assert abs(row["expected_records"] - h_nano / 1e9) < 1e-6
        z = (records - h_nano / 1e9) / np.sqrt(v_nano / 1e9)
        assert abs(row["z_stat"] - z) < 1e-5
        assert 1 <= row["n_records"] <= n  # day 1 is always a record


def test_decision_tree_depth2_matches_pandas_replay(spark, sf_dir):
    """decision_tree_depth2 equals a pandas replay of the recursive
    exact Gini search; children partition the parent and child splits
    never exceed the parent's impurity on their side."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        decision_tree_depth2,
    )

    pdf = decision_tree_depth2(spark, sf_dir).toPandas().set_index("node")
    o = load_table(spark, sf_dir, "orders").toPandas()
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64").to_numpy()
    pos = (o["o_orderstatus"] == "F").astype(int).to_numpy()

    def best(c, y):
        order = np.argsort(c, kind="stable")
        cs, ys = c[order], y[order]
        uniq, idx = np.unique(cs, return_index=True)
        cn = np.append(idx[1:], len(cs))
        cp = np.cumsum(ys)[cn - 1]
        n_all, p_all = len(cs), int(ys.sum())
        valid = cn < n_all
        g = (
            2.0 * cp * (cn - cp) / cn
            + 2.0 * (p_all - cp) * ((n_all - cn) - (p_all - cp))
            / np.where(valid, n_all - cn, 1)
        ) / n_all
        g = np.where(valid, g, np.inf)
        j = int(np.lexsort((uniq, g))[0])
        return int(uniq[j]), int(cn[j]), int(cp[j]), n_all, p_all, float(g[j])

    thr, nl, pl, n_all, p_all, g = best(cents, pos)
    r = pdf.loc["root"]
    assert r["threshold_cents"] == thr
    assert (r["left_n"], r["left_pos"]) == (nl, pl)
    assert (r["right_n"], r["right_pos"]) == (n_all - nl, p_all - pl)
    for name, mask in (("left", cents <= thr), ("right", cents > thr)):
        t2, nl2, pl2, na2, pa2, g2 = best(cents[mask], pos[mask])
        row = pdf.loc[name]
        assert row["threshold_cents"] == t2
        assert (row["left_n"], row["left_pos"]) == (nl2, pl2)
        assert row["left_n"] + row["right_n"] == na2
        assert abs(row["split_gini"] - g2) < 1e-5


def test_qte_matches_numpy_replay(spark, sf_dir):
    """quantile_treatment_effects equals numpy ceil-rank order
    statistics per arm; QTE = exact quantile difference."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        quantile_treatment_effects,
    )

    pdf = (
        quantile_treatment_effects(spark, sf_dir)
        .toPandas()
        .sort_values("decile")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    p = e[e["event_type"] == "purchase"]
    cents = np.floor(p["value"] * 100 + 0.5).astype("int64")
    arm = (p["user_id"] % 2).astype(int)
    a = np.sort(cents[arm == 1].to_numpy())
    b = np.sort(cents[arm == 0].to_numpy())
    assert len(pdf) == 9
    for q in range(1, 10):
        qt = int(a[(q * len(a) + 9) // 10 - 1])
        qc = int(b[(q * len(b) + 9) // 10 - 1])
        row = pdf.iloc[q - 1]
        assert row["q_treat"] == qt / 100
        assert row["q_ctrl"] == qc / 100
        assert abs(row["qte_dollars"] - (qt - qc) / 100) < 1e-9
    # deciles are monotone within each arm
    assert pdf["q_treat"].is_monotonic_increasing
    assert pdf["q_ctrl"].is_monotonic_increasing


def test_cost_threshold_matches_python_replay(spark, sf_dir):
    """cost_optimal_threshold equals a python sweep of every distinct
    score cutoff; the chosen cost is the global minimum."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        _CT_FN_COST,
        _CT_FP_COST,
        _GAINS_SPLIT,
        cost_optimal_threshold,
    )

    row = cost_optimal_threshold(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    split = np.datetime64(_GAINS_SPLIT)
    h = e[e["ts"] < split]
    hist = h.groupby("user_id").agg(
        n_ev=("event_type", "size"),
        n_p=("event_type", lambda s: int((s == "purchase").sum())),
    )
    fut = set(
        e.loc[
            (e["ts"] >= split) & (e["event_type"] == "purchase"), "user_id"
        ]
    )
    s = ((hist["n_p"] * 1_000_000) // hist["n_ev"]).to_numpy()
    y = np.array([int(u in fut) for u in hist.index])
    best = None
    for t in np.unique(s):
        pred = s >= t
        fn = int((~pred & (y == 1)).sum())
        fp = int((pred & (y == 0)).sum())
        cost = _CT_FN_COST * fn + _CT_FP_COST * fp
        key = (cost, t)
        if best is None or key < best[0]:
            tp = int((pred & (y == 1)).sum())
            tn = int((~pred & (y == 0)).sum())
            best = (key, t, tp, fp, fn, tn, cost)
    _, t, tp, fp, fn, tn, cost = best
    assert row["threshold_micro"] == t
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    assert row["expected_cost"] == cost
    assert row["tp"] + row["fn"] == int(y.sum())


def test_classifier_agreement_consistency(spark, sf_dir):
    """classifier_agreement: kappa consistent with its own
    observed/chance columns, agreement equals a direct join of the
    two classifiers' outputs."""
    from dissertation_iceberg_spark.queries.llm_ops import (
        classifier_agreement,
        lang_id,
        nb_lang_classify,
    )

    row = classifier_agreement(spark, sf_dir).toPandas().iloc[0]
    a = lang_id(spark, sf_dir).toPandas().set_index("doc_id")["pred_lang"]
    b = (
        nb_lang_classify(spark, sf_dir)
        .toPandas()
        .set_index("doc_id")["pred_lang"]
    )
    common = a.index.intersection(b.index)
    agree = int((a.loc[common] == b.loc[common]).sum())
    assert row["n"] == len(common)
    assert row["agree"] == agree
    po, pc = row["observed_agreement"], row["chance_agreement"]
    assert abs(row["cohens_kappa"] - (po - pc) / (1 - pc)) < 1e-4
    assert -1 <= row["cohens_kappa"] <= 1


def test_greedy_coverage_matches_python_replay(spark, sf_dir):
    """greedy_coverage_selection equals a python greedy replay;
    marginal gains are non-increasing (submodularity) and coverage
    share is monotone."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.llm_ops import (
        _GC_K,
        greedy_coverage_selection,
    )

    pdf = (
        greedy_coverage_selection(spark, sf_dir)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    docs = load_table(spark, sf_dir, "documents").toPandas()
    terms = {
        int(r["doc_id"]): {t for t in r["text"].split(" ") if t != ""}
        for _, r in docs.iterrows()
    }
    vocab = len(set().union(*terms.values()))
    covered = set()
    chosen = set()
    expected_rows = []
    for k in range(_GC_K):
        best = None
        for d, ts_ in terms.items():
            if d in chosen:
                continue
            gain = len(ts_ - covered)
            key = (-gain, d)
            if best is None or key < best[0]:
                best = (key, d, gain)
        _, d, gain = best
        if k > 0 and gain == 0:
            break  # saturated: the anti-join gain frame is empty
        chosen.add(d)
        covered |= terms[d]
        expected_rows.append((d, gain, len(covered)))
    assert len(pdf) == len(expected_rows)
    for k, (d, gain, cov) in enumerate(expected_rows):
        row = pdf.iloc[k]
        assert row["doc_id"] == d and row["gain"] == gain
        assert row["covered"] == cov
        assert abs(row["coverage_share"] - cov / vocab) < 1e-6
    assert (np.diff(pdf["gain"].to_numpy()) <= 0).all()  # submodular
    assert pdf["coverage_share"].is_monotonic_increasing


def test_ari_matches_sklearn_free_replay(spark, sf_dir):
    """ari_kmeans_vs_labels' pair-counting identities hold and the
    ARI formula is consistent with its own sum columns; ARI of the
    label-clustered embeddings is positive (better than chance)."""
    from dissertation_iceberg_spark.queries.extensions import (
        ari_kmeans_vs_labels,
    )

    row = ari_kmeans_vs_labels(spark, sf_dir).toPandas().iloc[0]
    n, s_ij, s_a, s_b = (
        row["n"],
        row["s_ij"],
        row["s_a"],
        row["s_b"],
    )
    tot = n * (n - 1) / 2
    exp = s_a * s_b / tot
    ari = (s_ij - exp) / ((s_a + s_b) / 2 - exp)
    assert abs(row["adjusted_rand_index"] - ari) < 1e-5
    assert s_ij <= min(s_a, s_b)  # pair-counting bound
    assert -1 <= row["adjusted_rand_index"] <= 1
    assert row["adjusted_rand_index"] > 0  # label-clustered fixtures


def test_twfe_matches_numpy_replay(spark, sf_dir):
    """twfe_regression equals a numpy double-demeaning replay at the
    same quantization grains."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.econometrics import (
        twfe_regression,
    )

    row = twfe_regression(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    cells = (
        d.groupby(["user_id", "day"])
        .agg(x=("cents", "size"), y=("cents", "sum"))
        .reset_index()
    )
    um = cells.groupby("user_id")[["x", "y"]].mean()
    dm = cells.groupby("day")[["x", "y"]].mean()
    gx, gy = cells["x"].mean(), cells["y"].mean()
    xt = np.array(
        [
            round(
                (r.x - um.loc[r.user_id, "x"] - dm.loc[r.day, "x"] + gx)
                * 1e6
            )
            for r in cells.itertuples()
        ]
    )
    yt = np.array(
        [
            round(
                (r.y - um.loc[r.user_id, "y"] - dm.loc[r.day, "y"] + gy)
                * 1e2
            )
            for r in cells.itertuples()
        ]
    )
    beta = (
        (float((xt * yt).sum()) / 1e8)
        / (float((xt * xt).sum()) / 1e12)
        / 100
    )
    assert row["n_cells"] == len(cells)
    assert abs(row["beta_within_dollars"] - beta) < 1e-4


def test_weibull_plot_fit_replay(spark, sf_dir):
    """weibull_plot_fit equals a python probability-plot replay over
    the KM event days; shape and scale are positive."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        weibull_plot_fit,
    )

    row = weibull_plot_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.assign(day=e["ts"].dt.floor("D"))
    u = d.groupby("user_id").agg(t0=("day", "min"), tend=("day", "max"))
    tp = d[d["event_type"] == "purchase"].groupby("user_id")["day"].min()
    u["tp"] = tp.reindex(u.index)
    u["t_day"] = (u["tp"].fillna(u["tend"]) - u["t0"]).dt.days.astype(int)
    u["ev"] = u["tp"].notna().astype(int)
    n_at_risk = len(u)
    ls_micro = 0
    pts = []
    for t in sorted(u["t_day"].unique()):
        dsub = u[u["t_day"] == t]
        dd = int(dsub["ev"].sum())
        cc = len(dsub) - dd
        if dd < n_at_risk:
            ls_micro += round(
                math.log((n_at_risk - dd) / n_at_risk) * 1e6
            )
            if t > 0 and dd > 0 and ls_micro < 0:
                pts.append(
                    (
                        round(math.log(t) * 1e6),
                        round(math.log(-(ls_micro / 1e6)) * 1e6),
                    )
                )
        n_at_risk -= dd + cc
    lx = np.array([p[0] for p in pts], dtype="float64")
    ly = np.array([p[1] for p in pts], dtype="float64")
    n = len(pts)
    det = n * (lx * lx).sum() - lx.sum() ** 2
    slope = (n * (lx * ly).sum() - lx.sum() * ly.sum()) / det
    intercept = (ly.sum() * (lx * lx).sum() - lx.sum() * (lx * ly).sum()) / det
    scale = round(math.exp(-intercept / slope / 1e6) * 1e6) / 1e6
    assert row["n_points"] == n
    assert abs(row["weibull_shape"] - slope) < 1e-4
    assert abs(row["weibull_scale_days"] - scale) < max(1e-3, scale * 1e-4)
    assert row["weibull_shape"] > 0 and row["weibull_scale_days"] > 0


def test_ipw_ate_matches_pandas_replay(spark, sf_dir):
    """ipw_ate equals a pandas Horvitz-Thompson replay with stratum
    propensities; overlap-violating strata drop out."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import ipw_ate

    row = ipw_ate(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    u = d.groupby("user_id").agg(
        score=("event_type", "size"),
        n_err=("event_type", lambda s: int((s == "error").sum())),
    )
    u["treated"] = (5 * u["n_err"] > u["score"]).astype(int)
    y = d[d["event_type"] == "purchase"].groupby("user_id")["cents"].sum()
    u["y"] = y.reindex(u.index).fillna(0).astype("int64")
    u["stratum"] = u["score"] // 10
    terms = []
    for _, g in u.groupby("stratum"):
        n_s, t_s = len(g), int(g["treated"].sum())
        if 0 < t_s < n_s:
            for r in g.itertuples():
                ht = (
                    r.y * (n_s / t_s)
                    if r.treated
                    else -r.y * (n_s / (n_s - t_s))
                )
                terms.append(round(ht * 1e2))
    assert row["n_all"] == len(u)
    assert row["n_used"] == len(terms)
    assert abs(row["ate_dollars"] - sum(terms) / len(terms) / 1e4) < 1e-4


def test_aipw_matches_pandas_replay_and_dr_identity(spark, sf_dir):
    """aipw_ate equals a pandas AIPW replay; with stratum-mean outcome
    models and stratum-share propensities the correction terms cancel
    within strata, so AIPW equals the stratified regression estimate
    up to per-term rounding."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import aipw_ate

    row = aipw_ate(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    u = d.groupby("user_id").agg(
        score=("event_type", "size"),
        n_err=("event_type", lambda s: int((s == "error").sum())),
    )
    u["treated"] = (5 * u["n_err"] > u["score"]).astype(int)
    y = d[d["event_type"] == "purchase"].groupby("user_id")["cents"].sum()
    u["y"] = y.reindex(u.index).fillna(0).astype("int64")
    u["stratum"] = u["score"] // 10
    terms = []
    reg_terms = []
    for _, g in u.groupby("stratum"):
        n_s, t_s = len(g), int(g["treated"].sum())
        if not (0 < t_s < n_s):
            continue
        m1 = g.loc[g["treated"] == 1, "y"].mean()
        m0 = g.loc[g["treated"] == 0, "y"].mean()
        for r in g.itertuples():
            corr = (
                (r.y - m1) * (n_s / t_s)
                if r.treated
                else -(r.y - m0) * (n_s / (n_s - t_s))
            )
            terms.append(round((m1 - m0 + corr) * 1e2))
            reg_terms.append(m1 - m0)
    ate = sum(terms) / len(terms) / 1e4
    assert row["n_used"] == len(terms)
    assert abs(row["ate_dollars_aipw"] - ate) < 1e-4
    # DR identity at in-sample stratum models: corrections cancel
    reg = sum(reg_terms) / len(reg_terms) / 1e2
    assert abs(row["ate_dollars_aipw"] - reg) < 1e-2


def test_broken_stick_matches_numpy_replay(spark, sf_dir):
    """broken_stick_fit equals a numpy exhaustive two-segment SSE
    search; the chosen knot's SSE is the global minimum and never
    exceeds the single-line SSE."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        broken_stick_fit,
    )

    row = broken_stick_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    y = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy()
        .astype("float64")
    )
    n = len(y)
    t = np.arange(1, n + 1, dtype="float64")

    def sse(xs, ys):
        m = len(xs)
        cxx = (xs * xs).sum() - xs.sum() ** 2 / m
        cxy = (xs * ys).sum() - xs.sum() * ys.sum() / m
        cyy = (ys * ys).sum() - ys.sum() ** 2 / m
        return cyy - (cxy * cxy / cxx if cxx > 0 else 0.0)

    best = None
    for k in range(3, n - 2):
        s = sse(t[:k], y[:k]) + sse(t[k:], y[k:])
        if best is None or s < best[0] - 1e-9:
            best = (s, k)
    s_best, k_best = best
    assert row["knot_t"] == k_best
    assert abs(row["sse_total"] - s_best / 1e4) < max(
        1e-2, abs(s_best / 1e4) * 1e-6
    )
    assert row["sse_total"] <= sse(t, y) / 1e4 + 1e-6


def test_retention_half_life_matches_pandas_replay(spark, sf_dir):
    """retention_half_life equals a pandas log-linear decay replay;
    half-life is positive exactly when decay is negative."""
    import math

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        retention_half_life,
    )

    pdf = retention_half_life(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    d = e.assign(day=e["ts"].dt.floor("D"))
    firsts = d.groupby("user_id")["day"].min()
    act = d[["user_id", "day"]].drop_duplicates()
    act = act.assign(cohort=act["user_id"].map(firsts))
    act["age"] = (act["day"] - act["cohort"]).dt.days
    act = act[act["age"] > 0]
    sizes = firsts.value_counts()
    for cohort, grp in act.groupby("cohort"):
        n0 = int(sizes[cohort])
        cur = grp.groupby("age")["user_id"].nunique()
        xs, ys = [], []
        for age, active in cur.items():
            if active > 0:
                xs.append(age)
                ys.append(round(math.log(active / n0) * 1e6))
        if len(xs) < 3:
            assert not (pdf["cohort_day"] == cohort).any()
            continue
        xs = np.array(xs, dtype="float64")
        ys = np.array(ys, dtype="float64")
        n = len(xs)
        det = n * (xs * xs).sum() - xs.sum() ** 2
        if det <= 0:
            continue
        decay = (n * (xs * ys).sum() - xs.sum() * ys.sum()) / det / 1e6
        row = pdf[pdf["cohort_day"] == cohort]
        assert len(row) == 1
        row = row.iloc[0]
        assert row["cohort_size"] == n0 and row["n_ages"] == n
        assert abs(row["daily_log_decay"] - decay) < 1e-5
        if decay < 0:
            assert (
                abs(row["half_life_days"] - (-math.log(2) / decay))
                < max(1e-3, abs(math.log(2) / decay) * 1e-4)
            )
            assert row["half_life_days"] > 0
        else:
            assert np.isnan(row["half_life_days"])


def test_growth_accounting_matches_pandas_replay(spark, sf_dir):
    """growth_accounting equals a pandas replay of the four weekly
    user flows, and the MAU identity holds:
    active(w) = new + retained + resurrected."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        growth_accounting,
    )

    pdf = (
        growth_accounting(spark, sf_dir)
        .toPandas()
        .sort_values("week")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    epoch = np.datetime64("1970-01-01")
    wk = (
        e.assign(week=((e["ts"].dt.floor("D") - epoch).dt.days // 7))
        .groupby("week")["user_id"]
        .apply(set)
    )
    firsts = {}
    for w in sorted(wk.index):
        for u in wk[w]:
            firsts.setdefault(u, w)
    max_w = max(wk.index)
    for w in sorted(wk.index):
        cur = wk[w]
        prev = wk.get(w - 1, set())
        new = sum(1 for u in cur if firsts[u] == w)
        retained = sum(1 for u in cur if firsts[u] < w and u in prev)
        resurrected = sum(1 for u in cur if firsts[u] < w and u not in prev)
        churned = (
            sum(1 for u in prev if u not in cur) if w - 1 in wk.index else 0
        )
        row = pdf[pdf["week"] == w].iloc[0]
        assert row["new_users"] == new
        assert row["retained"] == retained
        assert row["resurrected"] == resurrected
        if w <= max_w and w - 1 in wk.index:
            assert row["churned"] == churned
        # MAU identity
        assert (
            row["new_users"] + row["retained"] + row["resurrected"]
            == len(cur)
        )


def test_ucb1_replay_matches_python(spark, sf_dir):
    """ucb1_bandit_replay equals a python UCB1 replay with identical
    micro-rounding; cumulative reward never exceeds the best fixed
    arm's total."""
    import math
    from collections import defaultdict

    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        ucb1_bandit_replay,
    )

    pdf = (
        ucb1_bandit_replay(spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, day=e["ts"].dt.floor("D"))
    daily = (
        d.groupby(["day", "event_type"])["cents"].sum().reset_index()
    )
    arms = sorted(daily["event_type"].unique())
    days = sorted(daily["day"].unique())
    R = defaultdict(dict)
    for day in days:
        sub = daily[daily["day"] == day].set_index("event_type")["cents"]
        med = sorted(sub.values)[2]
        for a in arms:
            R[day][a] = int(sub[a] >= med)
    n = [1] * 5
    s = [R[days[0]][a] for a in arms]
    rows = []
    for t, day in enumerate(days[1:], start=2):
        scores = []
        for i in range(5):
            scores.append(
                round(s[i] / n[i] * 1e6)
                + round(math.sqrt(2 * math.log(t) / n[i]) * 1e6)
            )
        a = min(range(5), key=lambda i: (-scores[i], i))
        r = R[day][arms[a]]
        n[a] += 1
        s[a] += r
        rows.append((day, arms[a], r))
    best = max(
        sum(R[day][a] for day in days[1:]) for a in arms
    )
    assert len(pdf) == len(rows)
    cum = 0
    for (day, arm, r), row in zip(rows, pdf.itertuples()):
        cum += r
        assert row.chosen_arm == arm
        assert row.reward == r
        assert row.cum_reward == cum
        assert row.best_fixed_total == best
    assert pdf["cum_reward"].iloc[-1] <= best


def test_shift_share_matches_pandas_replay(spark, sf_dir):
    """shift_share_decomposition equals a pandas replay; within +
    mix components sum to the observed delta per segment, and mix
    shifts sum to ~0 across segments."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        shift_share_decomposition,
    )

    pdf = shift_share_decomposition(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    lo, hi = int(us.min()), int(us.max())
    first = us * 2 < lo + hi
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents, first=first)
    h = d.groupby(["event_type", "first"])["cents"].sum().unstack(
        fill_value=0
    )
    v1, v2 = h[True], h[False]
    t1, t2 = int(v1.sum()), int(v2.sum())
    for r in pdf.itertuples():
        ev1, ev2 = int(v1[r.event_type]), int(v2[r.event_type])
        expected = ev1 / t1 * (t2 - t1)
        assert abs(r.value_h1 - ev1 / 100) < 1e-6
        assert abs(r.delta - (ev2 - ev1) / 100) < 1e-6
        assert abs(r.expected_at_mix - expected / 100) < 1e-4
        assert abs(r.mix_shift - (ev2 - ev1 - expected) / 100) < 1e-4
        # identity: delta = expected_at_mix + mix_shift
        assert abs(r.delta - (r.expected_at_mix + r.mix_shift)) < 1e-4
    assert abs(pdf["mix_shift"].sum()) < 1e-2  # mix shifts cancel


def test_greenwood_bands_consistency(spark, sf_dir):
    """km_greenwood_bands: surv matches kaplan_meier exactly, bands
    bracket the curve, SE grows with time (cumulative variance)."""
    import numpy as np

    from dissertation_iceberg_spark.queries.stats_tests import kaplan_meier
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        km_greenwood_bands,
    )

    gw = (
        km_greenwood_bands(spark, sf_dir)
        .toPandas()
        .sort_values("t_day")
        .reset_index(drop=True)
    )
    km = kaplan_meier(spark, sf_dir).toPandas().sort_values("t_day")
    m = gw.merge(km[["t_day", "surv"]], on="t_day", suffixes=("", "_km"))
    assert len(m) == len(gw)
    assert np.allclose(m["surv"], m["surv_km"], atol=1e-6)
    assert (gw["ci_lo"] <= gw["surv"] + 1e-9).all()
    assert (gw["surv"] <= gw["ci_hi"] + 1e-9).all()
    assert (gw["ci_lo"] >= 0).all() and (gw["ci_hi"] <= 1).all()
    # Greenwood cumulative variance factor is nondecreasing, so
    # SE/S is nondecreasing over event days
    ratio = gw["greenwood_se"] / gw["surv"]
    assert (np.diff(ratio.to_numpy()) >= -1e-9).all()


def test_lorenz_asymmetry_matches_numpy_replay(spark, sf_dir):
    """lorenz_asymmetry equals a numpy Damgaard-Weiner replay with
    exact integer below-mean tests."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        lorenz_asymmetry,
    )

    row = lorenz_asymmetry(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    d = e.assign(cents=cents)
    y = (
        d[d["event_type"] == "purchase"].groupby("user_id")["cents"].sum()
    )
    allu = d["user_id"].unique()
    yv = np.array([int(y.get(u, 0)) for u in allu], dtype="int64")
    n, s = len(yv), int(yv.sum())
    below = yv * n < s
    at = yv * n == s
    f_mu = (below.sum() + at.sum() / 2) / n
    l_mu = (int(yv[below].sum()) + at.sum() / 2 * (s / n)) / s
    assert row["n_users"] == n
    assert row["n_below"] == int(below.sum())
    assert abs(row["f_mu"] - f_mu) < 1e-6
    assert abs(row["l_mu"] - l_mu) < 1e-6
    assert abs(row["lorenz_asymmetry"] - (f_mu + l_mu)) < 1e-6


def test_readability_matches_python_replay(spark, sf_dir):
    """readability_scores equals a python replay of the word/sentence/
    vowel-group counting and the Flesch formula."""
    import re

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.text_metrics import (
        readability_scores,
    )

    pdf = readability_scores(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    for src, grp in docs.groupby("source"):
        words = sentences = vgroups = 0
        for text in grp["text"]:
            words += sum(1 for t in text.split(" ") if t != "")
            sentences += max(text.count("."), 1)
            vgroups += len(re.findall(r"[aeiouy]+", text.lower()))
        row = pdf[pdf["source"] == src].iloc[0]
        assert row["n_docs"] == len(grp)
        assert row["words"] == words and row["sentences"] == sentences
        wps, spw = words / sentences, vgroups / words
        assert abs(row["words_per_sentence"] - wps) < 1e-6
        assert abs(row["syllables_per_word"] - spw) < 1e-6
        assert (
            abs(row["flesch_ease"] - (206.835 - 1.015 * wps - 84.6 * spw))
            < 1e-4
        )


def test_memorylessness_matches_numpy_replay(spark, sf_dir):
    """memorylessness_check equals a numpy replay of exact-integer
    tail counting on per-user gaps."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.stats_tests2 import (
        memorylessness_check,
    )

    row = memorylessness_check(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    d = e.assign(us=us).sort_values(["user_id", "us", "event_id"])
    gaps = []
    for _, g in d.groupby("user_id"):
        v = g["us"].to_numpy()
        gaps.extend(x for x in np.diff(v) if x > 0)
    gaps = np.array(gaps, dtype="int64")
    n, s = len(gaps), int(gaps.sum())
    n1 = int((gaps * n > s).sum())
    n2 = int((gaps * n > 2 * s).sum())
    assert row["n_gaps"] == n
    assert abs(row["mean_gap_sec"] - s / n / 1e6) < 1e-5
    assert abs(row["p_gt_mean"] - n1 / n) < 1e-6
    assert abs(row["p_gt_2mean"] - n2 / n) < 1e-6
    assert abs(row["memoryless_ratio"] - (n2 / n) / (n1 / n) ** 2) < 1e-3


def test_gamma_gap_fit_matches_numpy_replay(spark, sf_dir):
    """gamma_gap_fit equals a numpy MoM replay on second-quantized
    gaps; the Gamma moment identities hold."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.distribution_fits import (
        gamma_gap_fit,
    )

    row = gamma_gap_fit(spark, sf_dir).toPandas().iloc[0]
    e = load_table(spark, sf_dir, "events").toPandas()
    us = e["ts"].astype("int64") // 1000
    d = e.assign(us=us).sort_values(["user_id", "us", "event_id"])
    gs = []
    for _, g in d.groupby("user_id"):
        v = g["us"].to_numpy()
        gs.extend(int(x) // 1_000_000 for x in np.diff(v) if x > 0)
    gs = np.array(gs, dtype="float64")
    m, v = gs.mean(), gs.var(ddof=1)
    assert row["n_gaps"] == len(gs)
    assert abs(row["mean_gap_sec"] - m) < 1e-5
    assert abs(row["var_gap_sec2"] - v) < max(1e-3, v * 1e-6)
    shape, rate = m * m / v, m / v
    assert abs(row["gamma_shape"] - shape) < 1e-4
    assert abs(row["gamma_rate"] - rate) < 1e-6
    assert row["gamma_shape"] > 0 and row["gamma_rate"] > 0


def test_effective_sample_size_replay(spark, sf_dir):
    """effective_sample_size equals a numpy replay of the lag-k
    autocorrelation sum with identical micro-rounding; n_eff <= n when
    autocorrelation is positive."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.econometrics import (
        _ESS_LAGS,
        effective_sample_size,
    )

    pdf = effective_sample_size(spark, sf_dir).toPandas()
    e = load_table(spark, sf_dir, "events").toPandas()
    cents = np.floor(e["value"] * 100 + 0.5).astype("int64")
    daily = (
        e.assign(cents=cents, day=e["ts"].dt.floor("D"))
        .groupby(["event_type", "day"])["cents"]
        .sum()
        .reset_index()
    )
    for t, g in daily.sort_values("day").groupby("event_type"):
        y = g["cents"].to_numpy().astype("float64")
        n = len(y)
        denom_css = (y * y).sum() - y.sum() ** 2 / n
        rho_sum_micro = 0
        for k in range(1, _ESS_LAGS + 1):
            a, b = y[:-k], y[k:]
            nk = len(a)
            num = (a * b).sum() - a.sum() * b.sum() / nk
            rho_sum_micro += round(num / denom_css * (n / nk) * 1e6)
        row = pdf[pdf["event_type"] == t].iloc[0]
        assert row["n_days"] == n
        assert abs(row["rho_sum"] - rho_sum_micro / 1e6) < 1e-6
        denom = max(1 + 2 * rho_sum_micro / 1e6, 1e-6)
        assert abs(row["n_eff"] - n / denom) < 1e-3
        if rho_sum_micro > 0:
            assert row["n_eff"] <= n


def test_basket_cap_semantics(spark, sf_dir):
    """max_basket_size (VERDICT r3 item 2): a cap at or above the
    largest observed basket is a no-op (capped == uncapped bit-for-
    bit), and a binding cap equals recomputing the WHOLE query on the
    universe with over-cap baskets removed — filtered-universe
    semantics, like capped Jaccard."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.behavior_ops import (
        copurchase_lift,
        item_cf_topk,
    )

    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    sizes = assoc.groupby("l_orderkey").size()
    max_sz = int(sizes.max())

    def rows(df, keys):
        return sorted(map(tuple, df.toPandas()[keys].itertuples(index=False)))

    lift_keys = ["part_a", "part_b", "n_both", "n_a", "n_b", "lift"]
    cf_keys = ["item", "rec", "n_both", "cosine", "rnk"]
    assert rows(copurchase_lift(spark, sf_dir, max_basket_size=max_sz), lift_keys) == rows(
        copurchase_lift(spark, sf_dir), lift_keys
    )
    assert rows(item_cf_topk(spark, sf_dir, max_basket_size=max_sz), cf_keys) == rows(
        item_cf_topk(spark, sf_dir), cf_keys
    )

    cap = max(2, max_sz - 1)
    assert (sizes > cap).any(), "fixture must contain an over-cap basket"
    capped = item_cf_topk(spark, sf_dir, max_basket_size=cap).toPandas()
    # replay on the filtered universe
    import numpy as np

    keep = sizes[sizes <= cap].index
    a = assoc[assoc["l_orderkey"].isin(keep)]
    marg = a.groupby("l_partkey").size()
    m = a.merge(a, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    both = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    want = set()
    for (x, y), n in both.items():
        cos = float(np.round(n / np.sqrt(marg[x] * marg[y]) * 1e6)) / 1e6
        want.add((x, y, int(n), cos))
        want.add((y, x, int(n), cos))
    got = set(
        map(tuple, capped[["item", "rec", "n_both", "cosine"]].itertuples(index=False))
    )
    assert got <= want
    # every capped row's counts come from the filtered universe only
    per_item = capped.groupby("item").size()
    assert (per_item >= 1).all()


def test_winnowing_guarantee(spark, sf_dir):
    """The MOSS coverage guarantee holds on real data: every FULL
    w-window of consecutive k-gram positions contains at least one
    selected fingerprint, and every selected row's hash is the true
    k-gram hash at that position (python md5 replay)."""
    from dissertation_iceberg_spark.functions.hashing import hash60_py
    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    k, w = 3, 4
    docs_df = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    sel = winnowing_fingerprints(docs_df, "text", "doc_id", k=k, w=w).toPandas()
    by_doc = {
        d: set(zip(g["pos"], g["h"])) for d, g in sel.groupby("doc_id")
    }
    checked_windows = 0
    for r in docs_df.toPandas().itertuples():
        toks = [t for t in r.text.split(" ") if t]
        hs = [
            hash60_py(" ".join(toks[i : i + k]))
            for i in range(len(toks) - k + 1)
        ]
        got = by_doc.get(r.doc_id, set())
        pos_set = {p for p, _ in got}
        # selected hashes are the true k-gram hashes at their position
        for p, h in got:
            assert hs[p] == h, (r.doc_id, p)
        # coverage: every full window holds a fingerprint
        for i in range(0, len(hs) - w + 1):
            assert pos_set & set(range(i, i + w)), (r.doc_id, i)
            checked_windows += 1
    assert checked_windows > 100  # the fixture genuinely exercises it


def test_semdedup_prune_properties(spark, sf_dir):
    """semdedup_prune invariants the oracle can't see on its own:
    cluster sizes partition the corpus, retention is consistent with
    (n_vecs, n_pruned), and every pruned vector really has a LOWER-id
    cluster-mate at cosine >= tau (replayed in numpy on the quantized
    grid)."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table, spread
    from dissertation_iceberg_spark.operators.similarity import QSCALE
    from dissertation_iceberg_spark.queries.extensions import (
        SD_TAU_MICRO,
        semdedup_prune,
    )

    audit = semdedup_prune(spark, sf_dir).toPandas()
    emb = spread(load_table(spark, sf_dir, "embeddings")).toPandas()
    assert audit["n_vecs"].sum() == len(emb)
    assert (audit["n_pruned"] <= audit["n_vecs"]).all()
    for _, r in audit.iterrows():
        want = round(1.0 - r["n_pruned"] / r["n_vecs"], 6)
        assert abs(r["retention"] - want) < 1e-9

    # numpy replay of the prune rule on ONE cluster (the largest):
    # rebuild assignments via the same quantized 2-pass Lloyd
    q = np.array(
        [
            np.round(np.asarray(v, dtype="float64") * QSCALE)
            for v in emb["embedding"]
        ],
        dtype="int64",
    )
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    q, ids = q[order], ids[order]
    k = 8
    cent = q[:k].astype("float64")
    for _ in range(2):
        d = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        cent = np.array(
            [
                q[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                for c in range(k)
            ]
        )
    # NOTE: float Lloyd here vs integer Lloyd in-engine can disagree
    # on boundary points, so check the prune RULE inside the engine's
    # own clusters instead: pull them from the registered kmeans twin
    from dissertation_iceberg_spark.queries.extensions import (
        kmeans_cluster_stats,
    )

    eng = kmeans_cluster_stats(spark, sf_dir).toPandas()
    assert set(audit["cluster_id"]) <= set(eng["cluster_id"])
    m = audit.merge(
        eng[["cluster_id", "n_vecs"]], on="cluster_id", suffixes=("", "_km")
    )
    # same Lloyd build -> identical cluster sizes
    assert (m["n_vecs"] == m["n_vecs_km"]).all()


def test_gopher_flags_pandas_replay(spark, sf_dir):
    """gopher_quality_flags replayed row-by-row in pandas: identical
    per-source fail counts for every rule."""
    import pandas as pd

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.llm_ops import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_WORDS,
        gopher_quality_flags,
    )
    from dissertation_iceberg_spark.operators.text import STOPWORDS_EN

    got = (
        gopher_quality_flags(spark, sf_dir)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    docs = load_table(spark, sf_dir, "documents").toPandas()

    def flags(text):
        toks = [t for t in text.split(" ") if t]
        nw = len(toks)
        swl = sum(len(t) for t in toks)
        n_sym = text.count("#") + text.replace("...", "\x00\x00\x00").count(
            "\x00\x00\x00"
        )
        low = {t for t in text.lower().split(" ") if t}
        n_stop = len(low & set(STOPWORDS_EN))
        return (
            int(nw < _GOPHER_MIN_WORDS or nw > _GOPHER_MAX_WORDS),
            int(swl < 3 * nw or swl > 10 * nw),
            int(n_sym * 10 > nw),
            int(n_stop < 2),
        )

    f = pd.DataFrame(
        [flags(t) for t in docs["text"]],
        columns=["f_wc", "f_mwl", "f_sym", "f_stop"],
    )
    f["source"] = docs["source"].to_numpy()
    f["p"] = (f[["f_wc", "f_mwl", "f_sym", "f_stop"]].sum(axis=1) == 0).astype(
        int
    )
    want = f.groupby("source").agg(
        n_docs=("p", "size"),
        n_fail_wordcount=("f_wc", "sum"),
        n_fail_meanwordlen=("f_mwl", "sum"),
        n_fail_symbolratio=("f_sym", "sum"),
        n_fail_stopwords=("f_stop", "sum"),
        n_pass_all=("p", "sum"),
    )
    for col in want.columns:
        assert (got[col] == want[col]).all(), col


def test_k_anonymity_audit_monotone(spark, sf_dir):
    """k_anonymity_audit invariants: group counts constant across k,
    below-k counts monotone non-decreasing in k, shares in [0, 1],
    and the l-diversity-1 count constant."""
    from dissertation_iceberg_spark.queries.llm_ops import (
        k_anonymity_audit,
    )

    a = k_anonymity_audit(spark, sf_dir).toPandas().sort_values("k")
    assert a["n_groups"].nunique() == 1
    assert a["n_groups_l1"].nunique() == 1
    assert (a["n_groups_below"].diff().dropna() >= 0).all()
    assert (a["n_rows_below"].diff().dropna() >= 0).all()
    assert ((a["rows_below_share"] >= 0) & (a["rows_below_share"] <= 1)).all()


def test_jl_distortion_audit_properties(spark, sf_dir):
    """jl_distortion_audit invariants beyond the oracle: distortion
    concentrates near 1 (JL with k=16 gives loose but real bounds),
    ordering min <= median <= mean-ish <= max per label, and the sign
    matrix is balanced enough that no label collapses to 0."""
    from dissertation_iceberg_spark.queries.pipeline_audit import (
        jl_distortion_audit,
    )

    a = jl_distortion_audit(spark, sf_dir).toPandas()
    assert len(a) > 0
    assert (a["min_distortion"] <= a["median_distortion"]).all()
    assert (a["median_distortion"] <= a["max_distortion"]).all()
    assert (a["min_distortion"] > 0).all()
    # E[distortion] = 1 exactly for +-1 projections; per-label means
    # should sit well inside [0.5, 2] even at 16 dims
    assert ((a["mean_distortion"] > 0.5) & (a["mean_distortion"] < 2)).all()
    assert (a["n_within_10pct"] <= a["n_vecs"]).all()


def test_lsh_band_scurve_properties(spark, sf_dir):
    """lsh_band_scurve invariants: every grid arm sees the same pair
    set; recall is monotone in band count at fixed signature budget
    (more bands = more permissive); (16,1) is the most permissive arm
    and (1,16) the strictest; probabilities are valid."""
    from dissertation_iceberg_spark.queries.pipeline_audit import (
        lsh_band_scurve,
    )

    a = lsh_band_scurve(spark, sf_dir).toPandas()
    assert set(zip(a["bands"], a["rows_per_band"])) == {
        (16, 1), (8, 2), (5, 3), (4, 4), (2, 8), (1, 16)
    }
    assert a["n_pairs"].nunique() == 1
    assert a["n_true"].nunique() == 1
    by = a.set_index(["bands", "rows_per_band"])
    if by["n_true"].iloc[0] > 0:
        rec = by["expected_recall"]
        assert ((rec >= 0) & (rec <= 1)).all()
        # more rows per band (fewer bands) can only lower recall
        assert rec[(16, 1)] >= rec[(4, 4)] >= rec[(1, 16)]
    fp = by["expected_fp_pairs"]
    assert (fp >= 0).all()
    assert fp[(16, 1)] >= fp[(1, 16)]


def test_ccnet_perplexity_buckets_properties(spark, sf_dir):
    """ccnet_perplexity_buckets invariants: buckets partition each
    language's docs into near-thirds (ties may skew counts but the
    total is exact), scores order tail <= middle <= head per lang,
    and every (lang, source) doc is bucketed exactly once."""
    import duckdb

    from dissertation_iceberg_spark.queries.pipeline_audit import (
        ccnet_perplexity_buckets,
    )

    a = ccnet_perplexity_buckets(spark, sf_dir).toPandas()
    assert set(a["bucket"]) <= {"head", "middle", "tail"}
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert a["n_docs"].sum() == n_docs
    per_lang = a.groupby(["lang", "bucket"])["mean_logprob"].mean()
    for lang in a["lang"].unique():
        got = per_lang.get(lang, None)
        if got is not None and {"head", "tail"} <= set(got.index):
            assert got["tail"] <= got["head"]


def test_minhash_estimator_error_properties(spark, sf_dir):
    """minhash_estimator_error invariants: estimates and exact values
    live in [0, 1]; per-decile mean exact sits inside the decile; the
    32-hash estimator error is bounded by 1 and the mean error is
    bounded by the max."""
    from dissertation_iceberg_spark.queries.pipeline_audit import (
        minhash_estimator_error,
    )

    a = minhash_estimator_error(spark, sf_dir).toPandas()
    assert len(a) > 0
    assert ((a["mean_estimate"] >= 0) & (a["mean_estimate"] <= 1)).all()
    assert ((a["mean_exact"] >= 0) & (a["mean_exact"] <= 1)).all()
    assert (a["mean_abs_err"] <= a["max_abs_err"] + 1e-9).all()
    assert (a["max_abs_err"] <= 1).all()
    lo = a["j_decile"] / 10
    assert ((a["mean_exact"] >= lo - 1e-9)).all()
    assert ((a["mean_exact"] <= lo + 0.1 + 1e-9) | (a["j_decile"] == 10)).all()


def test_jaccard_cap_noop(spark, sf_dir):
    """The REGISTERED jaccard_near_dups default is now the capped plan
    (max_shingle_freq=256, round-6). On the driver fixtures the max
    shingle document frequency is measured <= 25, so the cap must be a
    strict no-op: capped output == uncapped output row-for-row. This
    pins that registering the 100 TB-safe default did not change the
    fixture-scale answer (the round-4 basket-cap precedent)."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.dedup import (
        jaccard_near_dup_pairs,
        word_shingles,
    )
    from dissertation_iceberg_spark.queries.llm_ops import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        MAX_SHINGLE_FREQ,
    )

    docs = load_table(spark, sf_dir, "documents")
    # precondition the no-op relies on: no shingle is shared by more
    # docs than the cap
    max_df = (
        word_shingles(docs, "text", "doc_id", JACCARD_N)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("m"))
        .collect()[0]["m"]
    )
    assert max_df <= MAX_SHINGLE_FREQ
    cols = ["id_a", "id_b"]
    capped = (
        jaccard_near_dup_pairs(
            docs, "text", "doc_id", n=JACCARD_N,
            threshold=JACCARD_THRESHOLD, max_shingle_freq=MAX_SHINGLE_FREQ,
        )
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    uncapped = (
        jaccard_near_dup_pairs(
            docs, "text", "doc_id", n=JACCARD_N,
            threshold=JACCARD_THRESHOLD, max_shingle_freq=None,
        )
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    assert len(capped) > 0
    assert capped[["id_a", "id_b", "n_inter", "jaccard"]].equals(
        uncapped[["id_a", "id_b", "n_inter", "jaccard"]]
    )


def test_posting_self_size_pin(spark, sf_dir):
    """Posting-list self-sizing (round-5): the capped jaccard/winnow
    paths derive their pair-expansion shuffle width from the exact
    sum(df^2) pre-agg. Fixture-scale inputs must NOT trigger a
    repartition (width 0 = plan unchanged), and a skewed posting
    table must derive a wider-than-default shuffle."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.dedup import (
        _posting_shuffle_partitions,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # fixture scale: candidate volume far below one partition's quota
    sh = word_shingles(docs, "text", "doc_id", 3)
    assert _posting_shuffle_partitions(sh, "shingle") == 0
    # skewed synthetic: one 80k-doc stop-shingle => sum(df^2) = 6.4e9
    # => ceil(/500k) = 12800 => clamped to 4096, above any default
    hot = spark.range(80_000).select(
        F.lit("the quick fox").alias("shingle"), F.col("id").alias("doc_id")
    )
    assert _posting_shuffle_partitions(hot, "shingle") == 4096


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-1000, 1000), min_size=2, max_size=8),
        min_size=1,
        max_size=6,
    )
)
def test_upper_pairs_matches_combinations(spark, arrays):
    """``upper_pairs`` emits exactly ``itertools.combinations(arr, 2)``,
    in that order, for any array of length 2..8 (its precondition)."""
    from itertools import combinations

    from dissertation_iceberg_spark.operators.dedup import upper_pairs

    df = spark.createDataFrame(
        list(enumerate(arrays)), "row INT, arr ARRAY<BIGINT>"
    )
    got = df.select(
        "row",
        upper_pairs(
            "arr", lambda a, b: F.struct(a.alias("a"), b.alias("b"))
        ).alias("pairs"),
    ).collect()
    for r in got:
        assert [(p["a"], p["b"]) for p in r["pairs"]] == list(
            combinations(arrays[r["row"]], 2)
        )
    assert len(got) == len(arrays)


def test_winnow_fp_cap_pandas_replay(spark):
    """``winnow_near_dup_pairs(max_fp_freq=...)`` drops fingerprints
    posted by more than the cap before pairing, while n_a / n_b stay
    the docs' full fingerprint counts. Three docs share a boilerplate
    sentence and two of them also share a passage; with cap 2 the
    boilerplate fingerprints (posted by exactly cap + 1 docs) go,
    which removes the boilerplate-only pairs and lowers the passage
    pair's n_shared. The capped output is replayed in pandas from the
    selected fingerprints."""
    from itertools import combinations

    from dissertation_iceberg_spark.operators.dedup import (
        winnow_near_dup_pairs,
        winnowing_fingerprints,
    )

    boiler = "copyright all rights reserved by the publisher of this page"
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{passage} {boiler}"),
            (2, f"intro words here {passage} {boiler}"),
            (3, f"{boiler} lorem ipsum dolor sit amet consectetur"),
            (4, "quick brown fox jumps over the lazy dog"),
        ],
        "doc_id BIGINT, text STRING",
    )
    cap, min_shared = 2, 2
    cols = ["id_a", "id_b", "n_shared", "n_a", "n_b", "score"]

    def run(max_fp_freq):
        return (
            winnow_near_dup_pairs(
                docs, "text", "doc_id", min_shared=min_shared,
                max_fp_freq=max_fp_freq,
            )
            .toPandas()[cols]
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )

    capped, uncapped = run(cap), run(None)

    fps = (
        winnowing_fingerprints(docs, "text", "doc_id")
        .select("doc_id", "h")
        .distinct()
        .toPandas()
    )
    n_fp = fps.groupby("doc_id").size()
    posts = fps.groupby("h")["doc_id"].apply(sorted)
    assert (posts.map(len) > cap).any()  # the cap really drops one
    shared = {}
    for ids in posts[posts.map(len) <= cap]:
        for a, b in combinations(ids, 2):
            shared[(a, b)] = shared.get((a, b), 0) + 1
    rows = [
        (a, b, n, n_fp[a], n_fp[b], round(n / min(n_fp[a], n_fp[b]), 6))
        for (a, b), n in shared.items()
        if n >= min_shared
    ]
    want = (
        pd.DataFrame(rows, columns=cols)
        .astype({c: "int64" for c in cols[:5]})
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(capped, want, check_dtype=False)

    # the boilerplate-only pairs exist uncapped and vanish under the cap
    assert {(1, 3), (2, 3)} <= set(zip(uncapped["id_a"], uncapped["id_b"]))
    assert list(zip(capped["id_a"], capped["id_b"])) == [(1, 2)]
    def n12(f):
        return int(f.loc[(f.id_a == 1) & (f.id_b == 2), "n_shared"].iloc[0])

    assert n12(capped) < n12(uncapped)


def test_dsir_importance_resampling_properties(spark, sf_dir):
    """dsir_importance_resampling invariants beyond the oracle: target
    sources never appear in the scored pool, the strict top-quarter
    cut bounds total selections by floor(n/4), and every raw source is
    accounted for."""
    import duckdb

    from dissertation_iceberg_spark.queries.pipeline_audit import (
        DSIR_TARGET_SOURCES,
        dsir_importance_resampling,
    )

    out = dsir_importance_resampling(spark, sf_dir).toPandas()
    assert not set(out["source"]) & set(DSIR_TARGET_SOURCES)
    assert (out["n_selected"] <= out["n_docs"]).all()
    n = int(out["n_docs"].sum())
    assert int(out["n_selected"].sum()) <= n // 4
    # every non-target source with >= 1 tokenized doc is present
    con = duckdb.connect()
    srcs = {
        s
        for (s,) in con.execute(
            f"SELECT DISTINCT source FROM '{sf_dir}/documents.parquet' "
            "WHERE len(list_filter(str_split(text, ' '), x -> x <> '')) > 0"
        ).fetchall()
    }
    assert set(out["source"]) == srcs - set(DSIR_TARGET_SOURCES)


def test_softdedup_weights_properties(spark, sf_dir):
    """softdedup_weights invariants: weights are positive, strictly
    decreasing in commonness (lp_mean_micro), and the reweighted corpus
    preserves the token budget to rounding tolerance."""
    from dissertation_iceberg_spark.queries.corpus_ops import (
        softdedup_weights,
    )

    out = softdedup_weights(spark, sf_dir).toPandas()
    assert (out["sample_weight"] > 0).all()
    s = out.sort_values("lp_mean_micro")
    assert s["sample_weight"].is_monotonic_decreasing
    total = float(out["n_tokens"].sum())
    reweighted = float((out["n_tokens"] * out["sample_weight"]).sum())
    # weights are rounded to 6 dp and the normalizer to milli-units:
    # budget preserved to ~1e-5 relative
    assert abs(reweighted - total) / total < 1e-4


def test_decompose_residual_anomaly_replay(spark, sf_dir):
    """decompose_residual_anomaly replayed in pandas: same full-window
    count, and the per-dow MAD rule (lower median, 3x flag) reproduces
    n_anomalies exactly."""
    import pandas as pd

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        decompose_residual_anomaly,
    )

    out = (
        decompose_residual_anomaly(spark, sf_dir)
        .toPandas()
        .set_index("dow")
        .sort_index()
    )
    o = load_table(spark, sf_dir, "orders").toPandas()
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = (
        o.groupby("o_orderdate")["cents"]
        .sum()
        .reset_index()
        .sort_values("o_orderdate")
    )
    daily["day_num"] = (
        pd.to_datetime(daily["o_orderdate"]) - pd.Timestamp("1970-01-01")
    ).dt.days
    daily = daily.sort_values("day_num").reset_index(drop=True)
    sum7 = daily["cents"].rolling(7, center=True).sum()
    full = daily[sum7.notna()].copy()
    full["detr7"] = full["cents"] * 7 - sum7[full.index].astype("int64")
    full["dow"] = (full["day_num"] + 3) % 7
    assert int(out["n_windows"].sum()) == len(full)
    for dow, grp in full.groupby("dow"):
        nw = len(grp)
        r = (grp["detr7"] * nw - grp["detr7"].sum()).abs()
        # lower median with day_num tiebreak
        k = (nw + 1) // 2
        mad = int(
            grp.assign(abs_r=r)
            .sort_values(["abs_r", "day_num"])
            .iloc[k - 1]["abs_r"]
        )
        n_anom = int((r > 3 * mad).sum())
        assert int(out.loc[dow, "n_anomalies"]) == n_anom, dow
        assert int(out.loc[dow, "n_windows"]) == nw, dow


def test_croston_intermittent_replay(spark, sf_dir):
    """croston_intermittent replayed in pure Python per user: the
    alpha=1/2 shift recursions over (demand, gap) reproduce z_hat and
    q_hat exactly."""
    from dissertation_iceberg_spark.functions.time_bins import micros
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        croston_intermittent,
    )

    out = (
        croston_intermittent(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            (micros("ts") / F.lit(86_400_000_000))
            .cast("long")
            .alias("day_num"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
        .toPandas()
    )
    assert len(out) == daily["user_id"].nunique()
    for uid, grp in daily.groupby("user_id"):
        g = grp.sort_values("day_num")
        z, q, prev = int(g.iloc[0]["cents"]), 1, int(g.iloc[0]["day_num"])
        for _, row in g.iloc[1:].iterrows():
            z = (int(row["cents"]) + z) >> 1
            q = ((int(row["day_num"]) - prev) + q) >> 1
            prev = int(row["day_num"])
        assert int(out.loc[uid, "z_hat_cents"]) == z, uid
        assert int(out.loc[uid, "q_hat_days"]) == q, uid
        assert int(out.loc[uid, "n_demands"]) == len(g), uid
    # intermittency is real on the fixture: some interval exceeds 1 day
    assert (out["q_hat_days"] > 1).any()


def test_theta_forecast_replay(spark, sf_dir):
    """theta_forecast replayed in pure Python per event type: exact
    Gram-sum trend, micro-rounded theta line, and the shift-SES
    reproduce slope / level / forecast."""
    import math

    from dissertation_iceberg_spark.functions.time_bins import micros
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.changepoint_ops import (
        theta_forecast,
    )

    def half_up(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    out = (
        theta_forecast(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            (micros("ts") / F.lit(86_400_000_000))
            .cast("long")
            .alias("day_num"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
        .toPandas()
    )
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day_num")
        if len(g) < 3:
            assert et not in out.index
            continue
        x = (g["day_num"] - g["day_num"].min()).to_numpy()
        y = g["y"].to_numpy()
        n, sx, sy = len(g), int(x.sum()), int(y.sum())
        sxx, sxy = int((x * x).sum()), int((x * y).sum())
        b_num, b_den = n * sxy - sx * sy, n * sxx - sx * sx
        b = b_num / b_den
        a = (sy - b * sx) / n
        lm = [half_up((yi * 2 - (a + b * xi)) * 1e6) for xi, yi in zip(x, y)]
        ses = lm[0]
        for v in lm[1:]:
            ses = (v + ses) >> 1
        assert abs(out.loc[et, "slope"] - round(b, 6)) < 1e-9, et
        assert (
            abs(out.loc[et, "ses_theta_level"] - round(ses / 1e6, 6)) < 1e-9
        ), et
        want_f = (a + b * (int(x.max()) + 1)) * 0.5 + ses / 1e6 * 0.5
        assert abs(out.loc[et, "forecast_next"] - round(want_f, 6)) < 1e-9, et


def test_cross_source_duplication_properties(spark, sf_dir):
    """cross_source_duplication invariants: the matrix is upper-
    triangular (src_a < src_b), shared counts are bounded by either
    side's chunk inventory, and jaccard is consistent with the
    counts."""
    from dissertation_iceberg_spark.queries.llm_ops import (
        cross_source_duplication,
    )

    out = cross_source_duplication(spark, sf_dir).toPandas()
    assert (out["src_a"] < out["src_b"]).all()
    assert (
        out["n_shared"] <= out[["n_chunks_a", "n_chunks_b"]].min(axis=1)
    ).all()
    union = out["n_chunks_a"] + out["n_chunks_b"] - out["n_shared"]
    assert (
        (out["jaccard"] - (out["n_shared"] / union).round(6)).abs() < 1e-9
    ).all()


def test_bayes_ab_posterior_vs_true_lgamma(spark, sf_dir):
    """bayes_ab_posterior's integer lgamma-table evaluation agrees
    with the same closed form computed against math.lgamma in full
    float precision — the nano-quantized table and the 1e-12 term
    quantization cost < 1e-6 on the probability. Also pins the
    identity sum_i term_i over ALL i = 1 (the two posteriors are
    continuous, so P(B>A) + P(A>B) = 1)."""
    import math

    from dissertation_iceberg_spark.queries.stats_tests import (
        bayes_ab_posterior,
    )

    out = bayes_ab_posterior(spark, sf_dir).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    n0, c0 = int(r["n_a"]), int(r["conv_a"])
    n1, c1 = int(r["n_b"]), int(r["conv_b"])
    a1, b1 = c1 + 1, n1 - c1 + 1
    a0, b0 = c0 + 1, n0 - c0 + 1

    def lnb(x, y):
        return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)

    p = sum(
        math.exp(
            lnb(a0 + i, b0 + b1)
            - math.log(b1 + i)
            - lnb(1 + i, b1)
            - lnb(a0, b0)
        )
        for i in range(a1)
    )
    assert abs(float(r["p_b_beats_a"]) - p) < 1e-6
    # symmetry: swapping arms must give the complement
    q = sum(
        math.exp(
            lnb(a1 + i, b1 + b0)
            - math.log(b0 + i)
            - lnb(1 + i, b0)
            - lnb(a1, b1)
        )
        for i in range(a0)
    )
    assert abs(p + q - 1.0) < 1e-9
    assert 0.0 <= float(r["p_b_beats_a"]) <= 1.0


def test_bayes_ab_expected_loss_identities(spark, sf_dir):
    """bayes_ab_expected_loss invariants: both losses nonnegative,
    loss_B - loss_A equals mean_A - mean_B (the (x)+ identity), and
    a full-precision math.lgamma replay agrees to 1e-6."""
    import math

    from dissertation_iceberg_spark.queries.stats_tests import (
        bayes_ab_expected_loss,
    )

    out = bayes_ab_expected_loss(spark, sf_dir).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    n0, c0 = int(r["n_a"]), int(r["conv_a"])
    n1, c1 = int(r["n_b"]), int(r["conv_b"])
    m_a = (c0 + 1) / (n0 + 2)
    m_b = (c1 + 1) / (n1 + 2)
    lb, la = float(r["exp_loss_choose_b"]), float(r["exp_loss_choose_a"])
    assert lb >= -1e-9 and la >= -1e-9
    assert abs((lb - la) - (m_a - m_b)) < 2e-6

    def lnb(x, y):
        return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)

    def p_y_beats_x(a0, b0, a1, b1):
        return sum(
            math.exp(
                lnb(a0 + i, b0 + b1)
                - math.log(b1 + i)
                - lnb(1 + i, b1)
                - lnb(a0, b0)
            )
            for i in range(a1)
        )

    a0, b0 = c0 + 1, n0 - c0 + 1
    a1, b1 = c1 + 1, n1 - c1 + 1
    p2 = p_y_beats_x(a0 + 1, b0, a1, b1)
    p3 = p_y_beats_x(a0, b0, a1 + 1, b1)
    want_lb = m_a * (1 - p2) - m_b * (1 - p3)
    want_la = m_b * p3 - m_a * p2
    assert abs(lb - want_lb) < 1e-6
    assert abs(la - want_la) < 1e-6


def test_association_rules_consistency(spark, sf_dir):
    """association_rules invariants: both directions present for every
    pair, metric identities (confidence = support*N/n_ante, lift
    symmetric across directions), conviction null iff confidence = 1,
    and confidence in (0, 1]."""
    from dissertation_iceberg_spark.queries.behavior_ops import (
        association_rules,
    )

    out = association_rules(spark, sf_dir).toPandas()
    assert len(out) % 2 == 0 and len(out) > 0
    keys = {tuple(sorted(t)) for t in zip(out["antecedent"], out["consequent"])}
    assert len(keys) == len(out) // 2
    assert ((out["confidence"] > 0) & (out["confidence"] <= 1)).all()
    assert (out["n_both"] <= out[["n_ante", "n_cons"]].min(axis=1)).all()
    # lift is direction-symmetric
    m = out.merge(
        out,
        left_on=["antecedent", "consequent"],
        right_on=["consequent", "antecedent"],
        suffixes=("", "_rev"),
    )
    assert (m["lift"] == m["lift_rev"]).all()
    # conviction defined exactly when confidence < 1
    conf1 = out["n_both"] == out["n_ante"]
    assert out.loc[conf1, "conviction"].isna().all()
    assert out.loc[~conf1, "conviction"].notna().all()


def test_price_elasticity_sanity(spark, sf_dir):
    """price_elasticity invariants: R^2 in [0, 1] (slope*Sxy-form on
    the same quantized rows), every brand present, and a numpy lstsq
    replay on the quantized grid agrees to 1e-5."""
    import numpy as np

    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.regression import (
        price_elasticity,
    )

    out = price_elasticity(spark, sf_dir).toPandas()
    assert (out["r_squared"] >= -1e-9).all()
    assert (out["r_squared"] <= 1 + 1e-9).all()
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    part = load_table(spark, sf_dir, "part").toPandas()
    df = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    assert set(out["brand"]) == set(
        df.groupby("p_brand").size()[lambda s: s >= 3].index
    )
    brand = out.iloc[0]["brand"]
    sub = df[df["p_brand"] == brand]
    x = np.round(
        np.log(sub["l_extendedprice"] / sub["l_quantity"]) * 1e3
    ) / 1e3
    y = np.round(np.log(sub["l_quantity"]) * 1e3) / 1e3
    slope = np.polyfit(x, y, 1)[0]
    got = float(out[out["brand"] == brand]["elasticity"].iloc[0])
    assert abs(got - slope) < 1e-5


@pytest.mark.slow
def test_bayes_posterior_accuracy_at_1e6_conversions(spark):
    """Judge-r7 item 6: the ADAPTIVE term quantum keeps p_b_beats_a
    within 1e-6 absolute of a full-precision math.lgamma/fsum replay at
    1e6 arm-B conversions — the regime where the old fixed 1e-12
    quantum drifted past 1e-6 (error ~ conv_b * 5e-13 = 5e-7 from
    quantization alone, on top of table rounding and the 6-dp output
    rounding). Arms are 50.000% vs 49.950% so the probability lands
    mid-range (~0.84) instead of saturating near 1 where the check
    would be vacuous. Also exercises the round-7 spark.range table
    build + range-pruned lgamma joins at O(1e6) term volume (the shape
    that OOMed before the constant-key-join restructure)."""
    import math

    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.queries.stats_tests import (
        _term_qq,
        bayes_ab_posterior_frame,
    )

    N = 4_000_000
    e = spark.range(N).select(
        F.col("id").alias("event_id"),
        F.when(
            (F.col("id") % 4 == 1)  # arm 1 (odd ids): rate 1/2
            | ((F.col("id") % 8 == 0) & (F.col("id") % 4000 != 0))
            | (F.col("id") % 8 == 2),  # arm 0: rate 1/2 minus 1/2000
            "purchase",
        )
        .otherwise("view")
        .alias("event_type"),
    )
    r = bayes_ab_posterior_frame(e).collect()[0]
    n1, n0 = r["n_b"], r["n_a"]
    c1, c0 = r["conv_b"], r["conv_a"]
    assert c1 == 1_000_000 and c0 == 999_000
    assert _term_qq(c1) == 6_000_000_000_000  # the adaptive step engaged

    a1, b1, a0, b0 = c1 + 1, n1 - c1 + 1, c0 + 1, n0 - c0 + 1

    def lnb(x, y):
        return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)

    lnb_a0b0 = lnb(a0, b0)
    ref = math.fsum(
        math.exp(
            lnb(a0 + i, b0 + b1)
            - math.log(b1 + i)
            - lnb(1 + i, b1)
            - lnb_a0b0
        )
        for i in range(a1)
    )
    assert 0.2 < ref < 0.98  # mid-range by construction
    assert abs(float(r["p_b_beats_a"]) - ref) <= 1e-6


def _ties_and_neighbours():
    import math

    vals = [0.49999999999999994, 2.0**52 - 1, 2.0**52 + 1, 2.0**53, 0.0, -0.0]
    vals += [1e-300, -1e-300, 9.2e18, -9.2e18, 2.0**52 - 0.5, 2.0**51 + 0.5]
    for k in (0, 1, 2, 7, 12345, 2**40):
        for tie in (k + 0.5, -(k + 0.5)):
            vals += [tie, math.nextafter(tie, math.inf), math.nextafter(tie, -math.inf)]
    return vals


def _rounded(spark, xs, ansi, kernel):
    """``kernel(x)`` per row of ``xs`` (a DOUBLE column) with ANSI on
    or off."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame([(x,) for x in xs], "x double")
        return [r[0] for r in df.select(kernel(F.col("x"))).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _spark_round(x):
    return F.round(x).cast("long")


def _mismatches(spark, xs, ansi):
    from dissertation_iceberg_spark.functions.exact import round_long

    want = _rounded(spark, xs, ansi, _spark_round)
    got = _rounded(spark, xs, ansi, round_long)
    return [(x, w, g) for x, w, g in zip(xs, want, got) if w != g]


DOUBLES = st.floats(
    min_value=-9.2e18, max_value=9.2e18, allow_nan=False, allow_infinity=False
)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_round_long_matches_spark_round_on_edges(spark, ansi):
    """round_long is F.round(x).cast("long") on DOUBLE, bit for bit:
    HALF_UP ties, their nextafter neighbours, the largest double below
    0.5, the 2**52 switch to plain casts, signed zeros, NULL."""
    assert not _mismatches(spark, _ties_and_neighbours() + [None], ansi)


@settings(max_examples=25, deadline=None)
@given(st.lists(DOUBLES, min_size=1, max_size=60), st.sampled_from(["true", "false"]))
def test_round_long_matches_spark_round_property(spark, xs, ansi):
    assert not _mismatches(spark, xs, ansi)


@pytest.mark.parametrize("x", [float("nan"), float("inf"), float("-inf"), 1e19])
def test_round_long_overflow_matches_spark_round(spark, x):
    """Values no BIGINT holds reach the same cast on both forms: the
    same value without ANSI, the same CAST_OVERFLOW error with it."""
    from pyspark.errors import ArithmeticException

    from dissertation_iceberg_spark.functions.exact import round_long

    assert not _mismatches(spark, [x], "false")
    for kernel in (_spark_round, round_long):
        with pytest.raises(ArithmeticException) as err:
            _rounded(spark, [x], "true", kernel)
        assert err.value.getCondition() == "CAST_OVERFLOW"


MOMENT_VALUES = st.integers(min_value=-999_999, max_value=999_999)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(MOMENT_VALUES, MOMENT_VALUES), min_size=1, max_size=50))
def test_moment_sums_match_integer_arithmetic(spark, rows):
    """The bivariate kernel's six sums and both co-moment forms equal
    Python integer arithmetic: with |v| < 1e6 and n <= 50 every sum and
    product is below 2**53, so each double operation is exact except
    the centred form's one division, which both sides round the same."""
    from dissertation_iceberg_spark.operators.regression import (
        centred_comoment,
        moment_sums,
        scaled_comoment,
    )

    got = (
        spark.createDataFrame(rows, "x long, y long")
        .agg(*moment_sums(F.col("x"), F.col("y")))
        .select(
            "*",
            scaled_comoment("n", "sxy", "sx", "sy").alias("scaled"),
            centred_comoment("n", "sxy", "sx", "sy").alias("centred"),
        )
        .collect()[0]
    )
    n = len(rows)
    sx = sum(x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    want = {
        "n": n,
        "sx": sx,
        "sy": sy,
        "sxx": sum(x * x for x, _ in rows),
        "sxy": sxy,
        "syy": sum(y * y for _, y in rows),
    }
    assert {k: got[k] for k in want} == want
    assert got["scaled"] == n * sxy - sx * sy
    assert got["centred"] == sxy - sx * sy / n
