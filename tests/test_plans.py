"""Plan-shape guards: the physical plans the 100 TB story depends on.

These assert optimizer-visible properties (pushdown, broadcast vs
shuffle joins, no accidental cartesian products) so a regression in
query construction fails fast — not just slower.
"""

from __future__ import annotations

import pytest

from dissertation_iceberg_spark.queries.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_filter_pushdown(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_scan_column_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "quality_score")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p, (
        "documents scan must prune to (doc_id, text)"
    )


def test_dim_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "customer_enrich")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_asof_is_window_not_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "iceberg_tag")
    assert "Join" not in p, "as-of must compile to a window pass, not a join"
    assert "Window" in p
    assert "BroadcastNestedLoop" not in p


def test_densify_grid_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "oi_hourly_densified")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_flagship_windows_all_partitioned(spark, sf_dir):
    """W4: the future-return lead is partitioned by trading day — an
    unpartitioned Window funnels every bin of 100 TB through one task.
    Spark prints partition-less window specs as 'Window [...], [expr ASC'
    (no partition list between the function list and the order list)."""
    import re

    for name in ("oi_hourly_densified", "oi_per_key_densified"):
        p = _plan(spark, sf_dir, name)
        for line in p.splitlines():
            m = re.search(r"\bWindow\s+(\[.*)", line)
            if not m:
                continue
            # partitioned windows render three bracket groups:
            # [funcs], [partition cols], [order]; unpartitioned only two
            groups = re.findall(r"\[[^\[\]]*(?:\[[^\[\]]*\][^\[\]]*)*\]", m.group(1))
            assert len(groups) >= 3, f"{name}: unpartitioned window: {line.strip()}"


def test_moment_sums_unread_aggregates_pruned(spark, sf_dir):
    """moment_sums always emits all six sums; roll_spread reads n, Σdp,
    Σdp1 and Σdp·dp1 only, so Σdp² and Σdp1² must not be computed."""
    import re

    df = REGISTRY["roll_spread"].fn(spark, sf_dir)
    p = re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())
    assert "sum((dp * dp1))" in p
    assert "sum((dp * dp))" not in p
    assert "sum((dp1 * dp1))" not in p


def test_jaccard_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "jaccard_near_dups")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_rolling_refit_single_pass(spark, sf_dir):
    """M8: no iterative re-reads — exactly one scan of events."""
    p = _plan(spark, sf_dir, "rolling_refit_signal")
    assert p.count("Scan parquet") <= 2  # daily frame feeds gram + predict sides


@pytest.mark.parametrize(
    "name", ["oi_hourly_densified", "iceberg_split_oi", "rolling_sentiment"]
)
def test_no_python_udfs_in_core_path(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        f"{name} must stay JVM-side"
    )


# Remaining BroadcastNestedLoopJoin sites, round 4 (was ~150): the
# keyless 1-row broadcast class is GONE — one-shot stats frames became
# scalar subqueries (functions/scalars.with_scalars: merged subplans,
# literals in codegen, no join node) and small grids became
# explode_grid fan-outs. What stays is exactly three honest classes:
#
# (a) documented brute-force baselines — the corpus scans against a
#     broadcast query set that anchor the ANN/dedup oracles;
# (b) iterative chains on functions/scalars.bcast_params — converting
#     per-iteration 1-row parameter frames to scalar subqueries was
#     MEASURED (round 4, sf0.001 parity) to re-derive the full
#     previous-iteration lineage per scalar (gbm_stumps 7.9 s -> 294 s,
#     kcore 74 s-class, learning_curve minutes); broadcast keeps
#     Catalyst's exchange reuse across iterations;
# (c) genuine non-equi joins on bounded frames — band/pair-grid
#     conditions BNLJ exists to serve (an equi-join cannot express
#     them, and explode+filter computes the identical volume).
INTENTIONAL_BNLJ = {
    # (a) brute-force baselines
    "cosine_topk",
    "embedding_near_dups",
    "knn_classify",
    # (round 9: retrieval_eval pins its brute-force arm, so the BNLJ
    # executes inside the pin and no longer appears in the FINAL plan —
    # entry kept for the documented baseline inside)
    "retrieval_eval",
    # (b) iterative bcast_params chains (see functions/scalars.py)
    "bpe_merge_training",
    "gbm_stumps",
    "gmm_em_1d",
    "greedy_coverage_selection",
    "hits_scores",
    "ipf_raking",
    "kcore_decomposition",
    "learning_curve",
    "logistic_irls_gram",
    "pca_power_iteration",
    "personalized_pagerank",
    "platt_scaling",
    "stump_boost_gram",  # O(rounds)=5-row stump trace, scalar attach
    "ucb1_bandit_replay",
    # (c) non-equi joins on bounded frames
    "dunn_posthoc",  # O(types^2) pair grid, type_a < type_b
    "kmv_setops",  # <= types^2 pair grid (bounded type-dim self-join)
    "matrix_profile_lite",  # O(windows^2) band join on the O(days) frame
    "shapley_attribution",  # bitmask subset condition vs 2^k lattice
    "tukey_hsd",  # O(types^2) pair grid, type_a < type_b
}


# Truly-unpartitioned windows (no partition column in the
# windowspecdefinition) are allowed ONLY over bounded or sublinear
# frames. The O(users)/O(parts) rank class was de-globalized in round 4
# (rfm_scores, cumulative_gains, qini_uplift, abc_classification,
# vocab_coverage_knee → functions/ranks.py bucketed kernels); the
# kernel's own O(n_buckets) ≤ 1024 offset window (ordered by __bucket)
# is auto-allowed below. Everything else must be consciously attributed
# here — a new global window over a data-scaled frame fails the sweep.
BOUNDED_GLOBAL_WINDOWS = {
    # O(days) / O(time-bins) series frames (SCALE.md §known
    # single-partition points)
    "broken_stick_fit": "O(days) eigen-spectrum frame",
    "conformal_interval": "O(days) residual-rank frame",
    "cost_optimal_threshold": "O(thresholds) sweep grid",
    "cumulative_unique_users": "O(days) growth series",
    "cusum_changepoint": "O(days) cumulative series",
    "engle_granger_coint": "O(days) residual series",
    "gpd_pot_fit": "O(days) tail-exceedance frame",
    "granger_oi_returns": "O(bins) lagged series",
    "hmm_forward_loglik": "O(days) observation series",
    "hmm_viterbi_regimes": "O(days) observation series",
    "hurst_exponent": "O(days) rescaled-range frame",
    "ljung_box_oi": "O(bins) ACF lags",
    "matrix_profile_lite": "O(days) band frame",
    "max_drawdown": "O(days) PnL series",
    "newey_west_ols": "O(bins) HAC lags",
    "oi_acf": "O(bins) ACF lags",
    "oi_periodogram": "O(bins) DFT grid",
    "pettitt_changepoint": "O(days) rank series",
    "portfolio_workflow_pnl": "O(days) trailing Gram + daily PnL series",
    "single_strategy_workflow_pnl": "O(days) trailing Gram window",
    "rolling_refit_multi": "O(days) trailing Gram window",
    "rolling_refit_signal": "O(days) trailing Gram window",
    "rolling_wau": "O(days) rolling-active series",
    "runs_test": "O(days) sign series",
    "decompose_residual_anomaly": "O(days) centered MA",
    "seasonal_decompose": "O(days) centered MA",
    "sortino_calmar": "O(days) drawdown series",
    "spc_control_chart": "O(days) moving-range series",
    "tail_dependence": "O(days) joint-tail frame",
    "trading_calendar": "O(days) calendar dim",
    "ucb1_bandit_replay": "O(replay-rounds) fold",
    "var_cvar": "O(days) tail ranks",
    # survival-analysis event-time grids: O(distinct days)
    "kaplan_meier": "O(distinct event days) risk grid",
    "km_greenwood_bands": "O(distinct event days) risk grid",
    "log_rank_test": "O(distinct event days) risk grid",
    "nelson_aalen": "O(distinct event days) risk grid",
    "weibull_plot_fit": "O(distinct event days) plot grid",
    # rank statistics on the DISTINCT-VALUE histogram — domain-bounded
    # (cents / micro-scores), never row-scale (functions/ranks.py
    # docstring: ties exact by construction)
    "decision_tree_depth2": "O(distinct split values)",
    "dunn_posthoc": "O(distinct cents) histogram",
    "effect_sizes": "O(distinct cents) histogram",
    "gmm_em_1d": "O(distinct values) histogram",
    "good_turing": "O(distinct frequencies) freq-of-freq",
    "hill_tail_estimator": "O(k) tail order statistics",
    "huber_regression": "O(distinct residual grid) MAD ranks",
    "kruskal_wallis": "O(distinct cents) histogram",
    "learning_curve": "O(distinct split values) per subset",
    "psm_att": "O(distinct propensity scores) strata",
    "quantile_normalize_sources": "O(distinct values) histogram",
    "skew_profile": "O(distinct counts) histogram",
    "wilcoxon_signed_rank": "O(distinct |diff|) histogram",
    # O(bins)/O(buckets)/O(deciles)/O(sketch-size) readout frames
    "ari_kmeans_vs_labels": "O(k) seed rows (LIMIT k)",
    "bh_fdr_battery": "O(tests) p-value frame",
    "brier_decomposition": "O(bins) reliability frame",
    "conversion_latency_quantiles": "O(percentile targets)",
    "cumulative_gains": "O(deciles) gains table",
    "f2_ams_sketch": "O(sketch depth) estimates",
    "greedy_coverage_selection": "O(greedy rounds) picks",
    "hdr_histogram_quantiles": "O(log-bins) histogram",
    "histogram_quantiles": "O(bins) histogram",
    "hits_scores": "O(top-k) readout after LIMIT",
    "isotonic_calibration": "O(bins) PAVA frame",
    "ivf_ann_topk": "O(n_lists) seed rows (LIMIT n_lists)",
    "kmeans_cluster_stats": "O(k) seed rows (LIMIT k)",
    "semdedup_prune": "O(k) seed rows (LIMIT k, same Lloyd build)",
    "mixture_optimizer": "O(sources) weight frame",
    "pareto_frontier": "O(price buckets) frontier",
    "pq_adc_topk": "O(k) codebook seeds (LIMIT k)",
    "pq_codebooks": "O(k) codebook seeds (LIMIT k)",
    "projection_ks_drift": "O(distinct projections) ECDF",
    "psi_drift": "O(bins) PSI terms",
    "qini_uplift": "O(deciles) uplift table",
    "rrf_fusion": "O(top-k per arm) fused candidates",
    "shapley_attribution": "O(channels) coalition readout",
    "tdigest_centroids": "O(delta) centroid frame",
    "tdigest_quantile_readout": "O(delta) centroid frame",
    "wasserstein_1d": "O(distinct values) ECDF",
    "woe_iv_encoding": "O(buckets) WOE frame",
    "zipf_slope": "O(top-K) frame after LIMIT",
}


def _windowspec_args(p: str):
    """Yield the paren-balanced arg string of every
    windowspecdefinition(...) in a physical plan."""
    import re

    for m in re.finditer(r"windowspecdefinition\(", p):
        i, depth, buf = m.end(), 1, []
        while i < len(p) and depth:
            c = p[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            if depth:
                buf.append(c)
            i += 1
        yield "".join(buf)


def _first_spec_arg(args: str) -> str:
    depth = 0
    for i, c in enumerate(args):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return args[:i].strip()
    return args.strip()


def _global_windows(p: str) -> list[str]:
    """First ORDER column of each truly-unpartitioned window: a spec
    whose first arg is the frame itself (count over ()) or carries a
    sort direction (order col), i.e. no leading partition column."""
    out = []
    for args in _windowspec_args(p):
        fa = _first_spec_arg(args)
        if fa.startswith("specifiedwindowframe") or " ASC" in fa or " DESC" in fa:
            out.append(fa.split("#")[0])
    return out


def test_plan_red_flag_sweep(spark, sf_dir):
    """No query may regress into a cartesian product, an unintended
    nested-loop join, a row-at-a-time Python UDF, or an unattributed
    GLOBAL window (single-partition sort over a possibly data-scaled
    frame).

    Round 9: the 440 plan builds run on a small driver-side thread
    pool — plan construction is py4j/JVM work that releases the GIL,
    and the few eager pre-jobs (pins, sizing pre-aggs) are independent
    Spark jobs the scheduler happily overlaps (guide §2.6). This was
    the single slowest test in the suite (~200 s serial); failures are
    collected and reported together so the error surface is unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    def check(name: str) -> str | None:
        p = _plan(spark, sf_dir, name)
        if "CartesianProduct" in p:
            return f"{name}: CartesianProduct"
        if name not in INTENTIONAL_BNLJ and "BroadcastNestedLoopJoin" in p:
            return f"{name}: unattributed BroadcastNestedLoopJoin"
        if "BatchEvalPython" in p:
            return f"{name}: BatchEvalPython"
        globals_ = [
            c for c in _global_windows(p) if c != "__bucket"
        ]  # the bucketed-rank kernel's O(n_buckets) offset is always fine
        if globals_ and name not in BOUNDED_GLOBAL_WINDOWS:
            return (
                f"{name}: unattributed global window over {globals_} — "
                "either partition it (bucketed kernels in functions/"
                "ranks.py) or attribute the bounded frame in "
                "BOUNDED_GLOBAL_WINDOWS"
            )
        return None

    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = [m for m in pool.map(check, sorted(REGISTRY)) if m]
    assert not failures, "\n".join(failures)


def test_mmr_rerank_build_fires_at_most_the_loader_job(spark, sf_dir):
    """Building mmr_rerank runs no Spark job of its own: the greedy
    rounds are an array fold inside the plan, not pinned frames, and
    the loader infers a table's parquet schema once per process. So
    after one warm build, a second build fires no job at all."""
    sc = spark.sparkContext
    REGISTRY["mmr_rerank"].fn(spark, sf_dir)
    group = "test_plans.mmr_rerank_build"
    sc.setJobGroup(group, "build mmr_rerank")
    try:
        REGISTRY["mmr_rerank"].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 0, f"{len(jobs)} jobs fired while building"


def test_q3_pushdown_broadcast_topk(spark, sf_dir):
    """Q3 shape: date/segment filters reach the scans, customer dim is
    broadcast, and the top-k compiles to TakeOrderedAndProject."""
    p = _plan(spark, sf_dir, "top_unshipped_orders")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_pagerank_topk_take_ordered(spark, sf_dir):
    p = _plan(spark, sf_dir, "pagerank_top_nodes")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_sketch_probe_joins_broadcast(spark, sf_dir):
    """Sketch readouts join broadcast frames (probes / filter bits) —
    the probed corpus must never shuffle for the membership check."""
    for name in ("countmin_heavy_hitters", "bloom_membership_audit"):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_time_travel_asof_filter_pushdown(spark, sf_dir):
    """The AS OF cutoff must reach the scan — that's what prunes a
    date-partitioned 100 TB log before any row moves."""
    p = _plan(spark, sf_dir, "snapshot_time_travel")
    assert "PushedFilters: [IsNotNull(ts), LessThanOrEqual(ts," in p


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """Interval containment must plan as an equi join on (user, bin)
    with the BETWEEN as residual — never a nested loop."""
    p = _plan(spark, sf_dir, "post_purchase_errors")
    assert "BroadcastNestedLoop" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    )


@pytest.mark.parametrize("name", ["topk_users", "hash_reservoir_sample"])
def test_topk_is_take_ordered(spark, sf_dir, name):
    """O3: top-k must compile to TakeOrderedAndProject (per-partition
    top-k + driver merge), never a single-partition window."""
    p = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


@pytest.mark.parametrize("name", ["mann_whitney_u", "anderson_ksamp", "ks_2samp"])
def test_rank_stats_have_no_global_event_sort(spark, sf_dir, name):
    """Round-2 scale fix: every value-ordered window must be partitioned
    by the rank bucket; the only unpartitioned windows allowed are the
    O(n_buckets) offset prefix sums (input = a bucket-keyed aggregate).
    """
    p = _plan(spark, sf_dir, name)
    for line in p.splitlines():
        if "windowspecdefinition" not in line:
            continue
        ordered_by_value = "value#" in line.split("windowspecdefinition", 1)[1]
        if ordered_by_value:
            assert "__bucket#" in line, f"unbucketed value sort in {name}: {line}"


def test_sessionization_is_single_user_aggregate(spark, sf_dir):
    """session_window must compile to one user-keyed aggregation —
    no join, no unpartitioned window."""
    p = _plan(spark, sf_dir, "sessionization")
    assert "Join" not in p
    assert "hashpartitioning(user_id" in p
    assert "windowspecdefinition()" not in p


def test_tfidf_broadcasts_term_stats(spark, sf_dir):
    """The vocabulary-sized df table must broadcast back onto the
    doc-term frame — a shuffle join here would re-exchange the big
    side on a low-cardinality key."""
    p = _plan(spark, sf_dir, "tfidf_top_terms")
    assert p.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """BM25's final top-k must be per-partition top-k + driver merge,
    and the term filter must reach the scan side of the explode."""
    p = _plan(spark, sf_dir, "bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_posting_digest_no_joins(spark, sf_dir):
    """The sharded index build is aggregation-only: explode → distinct
    → (term, bucket) agg. Any join in this plan is a regression."""
    p = _plan(spark, sf_dir, "posting_list_digest")
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    """Q5-shape plan: every dim broadcast; at most ONE shuffle join
    (the fact-fact lineitem ⨝ orders — itself broadcast at tiny SF,
    where orders fits under the threshold)."""
    p = _plan(spark, sf_dir, "regional_supplier_revenue")
    assert p.count("BroadcastHashJoin") >= 4, p[:3000]
    assert p.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_semi_anti_join_shapes(spark, sf_dir):
    """Semi/anti joins must keep their narrow-probe property: the join
    type survives to the physical plan and the build-side filter is
    pushed into the lineitem scan."""
    p = _plan(spark, sf_dir, "discounted_orders_semijoin")
    assert "LeftSemi" in p
    assert "GreaterThan(l_discount" in p
    assert "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "unreturned_orders_antijoin")
    assert "LeftAnti" in p
    assert "EqualTo(l_returnflag,R)" in p


def test_rollup_and_pivot_shuffle_counts(spark, sf_dir):
    """ROLLUP expands grouping sets map-side: ONE exchange total. A
    pinned pivot is two aggregation phases ((day,type) pre-agg, then
    pivotfirst on day) — two exchanges, and crucially no extra
    distinct-discovery job over the fact table."""
    assert _plan(spark, sf_dir, "revenue_rollup").count("Exchange") == 1
    assert _plan(spark, sf_dir, "event_type_pivot").count("Exchange") <= 2


def test_gap_fill_windows_partitioned(spark, sf_dir):
    """Both gap-fill scaffolding windows must carry the event_type
    partition key — no unpartitioned window over the dense grid."""
    p = _plan(spark, sf_dir, "gap_fill_interpolate")
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "event_type#" in line.split("windowspecdefinition", 1)[1], line


def test_grouping_sets_single_exchange(spark, sf_dir):
    """Direct GROUPING SETS expands map-side like ROLLUP: all three
    levels ride one exchange."""
    assert _plan(spark, sf_dir, "priority_grouping_sets").count("Exchange") == 1


def test_unpivot_single_scan(spark, sf_dir):
    """unpivot compiles to a map-side Expand over ONE lineitem scan —
    the whole point vs the oracle's read-per-measure UNION ALL."""
    p = _plan(spark, sf_dir, "measure_unpivot_stats")
    assert p.count("Scan parquet") == 1
    assert "Expand" in p


def test_dim_stats_no_join(spark, sf_dir):
    """posexplode long-forms the array map-side: no join anywhere (the
    oracle needs a positional cross join), one narrow groupBy."""
    p = _plan(spark, sf_dir, "embedding_dim_stats")
    assert "Join" not in p
    assert "Generate explode" in p or "Generate posexplode" in p


def test_asof_enrich_is_window_not_join(spark, sf_dir):
    """The generic events as-of (corpus_ops.asof_enrich) must compile
    like J1: union + one user-partitioned window, never a range join
    (which would be BroadcastNestedLoop on the interval predicate)."""
    p = _plan(spark, sf_dir, "asof_enrich")
    assert "Join" not in p
    assert "Window" in p
    assert "Union" in p


def test_bpe_pairs_take_ordered(spark, sf_dir):
    """Tokenizer-training pair argmax: per-partition heaps + driver
    merge, not a global sort."""
    p = _plan(spark, sf_dir, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p


def test_quantization_no_shuffle(spark, sf_dir):
    """int8 quantization audit is pure per-row array arithmetic: no
    join, no window, and the only exchange is the spread()
    repartition of the scan (parallelism, not data movement on a
    key)."""
    p = _plan(spark, sf_dir, "embedding_quantization")
    assert p.count("Exchange") <= 1
    assert "hashpartitioning" not in p
    assert "Join" not in p
    assert "Window" not in p


def test_unigram_logprob_shuffle_shape(spark, sf_dir):
    """Unigram-LM scoring: the vocab logprob table joins back on the
    token key as a real equi-join (shuffle or broadcast hash), and the
    only nested-loop is the broadcast 1-row corpus frame."""
    p = _plan(spark, sf_dir, "unigram_logprob")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or p.count("BroadcastHashJoin") >= 1


def test_q19_disjunction_reaches_both_scans(spark, sf_dir):
    """Q19 shape: Catalyst must distribute the OR-of-ANDs so each
    scan is pre-filtered — the part scan by the brand union, the
    lineitem scan by the quantity-range union — instead of evaluating
    the whole disjunction only after the join."""
    p = _plan(spark, sf_dir, "disjunctive_brand_revenue")
    # part scan: Or(Or(And(EqualTo(p_brand,...),...)...)) pushed
    assert "EqualTo(p_brand" in p, "brand union must reach the part scan"
    # lineitem scan: the quantity-range union pushed
    assert "GreaterThanOrEqual(l_quantity,1.0)" in p, (
        "quantity union must reach the lineitem scan"
    )
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q13_preaggregates_before_outer_join(spark, sf_dir):
    """Q13 shape: the per-customer count collapses orders BEFORE the
    outer join (combiner-backed partial aggregation), so the join is
    dim x dim — the naive join-then-count would move the whole fact
    table uncombined."""
    p = _plan(spark, sf_dir, "order_count_distribution")
    ha = p.index("HashAggregate")  # first (partial) aggregate...
    jo = p.index("Join")  # ...must sit below the join in the plan tree
    assert ha > jo or "partial_count" in p.split("Join")[-1], (
        "orders must pre-aggregate under the outer join"
    )
    assert "CartesianProduct" not in p


def test_q20_single_fact_scan(spark, sf_dir):
    """Q20 shape: the per-part total is a window over the pair
    aggregate, NOT a second aggregate joined back — Spark has no
    common-subplan reuse, so the agg-then-join form scans the fact
    table twice. One lineitem scan, one window, no self-join."""
    p = _plan(spark, sf_dir, "dominant_part_suppliers")
    assert p.count("lineitem.parquet") == 1, "fact table must scan once"
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_zipf_topk_no_global_sort(spark, sf_dir):
    """The vocab top-K must be TakeOrderedAndProject (per-partition
    heaps); the only full Sort allowed is inside the bounded K-row
    ranking window."""
    p = _plan(spark, sf_dir, "zipf_slope")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q6_pure_scan_agg_pushdown(spark, sf_dir):
    """Q6 shape: no join anywhere, and the date + quantity predicates
    reach the parquet scan."""
    p = _plan(spark, sf_dir, "forecast_revenue_change")
    assert "Join" not in p
    assert "PushedFilters" in p
    # PushedFilters rendering truncates; the shipdate bound is visible
    # and the quantity predicate shows in the pushed IsNotNull + the
    # data filter
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "IsNotNull(l_quantity)" in p


def test_q4_exists_is_semi_join(spark, sf_dir):
    """Q4 shape: the EXISTS must compile to a semi join (no row
    duplication), with the quarter filter pushed to the orders scan."""
    p = _plan(spark, sf_dir, "order_priority_check")
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_q10_topk_is_take_ordered(spark, sf_dir):
    p = _plan(spark, sf_dir, "returned_item_revenue")
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18 shape: the quantity rollup must sit UNDER the orders join —
    HashAggregate appears before any join when reading bottom-up from
    the lineitem scan."""
    p = _plan(spark, sf_dir, "large_volume_customers")
    # the quantity rollup's subtree must contain the lineitem scan with
    # no join in between (tree prints parent-first, so the agg line
    # precedes its scan and any Join between them would be a regression)
    pos_agg = p.index("HashAggregate(keys=[l_orderkey")
    pos_scan = p.index("lineitem.parquet", pos_agg)
    assert "Join" not in p[pos_agg:pos_scan]


def test_phrase_search_equijoin_on_postings(spark, sf_dir):
    """Phrase search must be an equi-join on (doc_id, position), never
    a nested loop over the token table."""
    p = _plan(spark, sf_dir, "phrase_search")
    assert "BroadcastHashJoin [doc_id" in p or "SortMergeJoin [doc_id" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_pq_adc_scan_is_hash_join_on_codes(spark, sf_dir):
    """ADC search: the distance table joins the code table on
    (sub, cw) as a broadcast hash join — the per-vector work is a
    lookup, not a float-space pairwise join."""
    p = _plan(spark, sf_dir, "pq_adc_topk")
    assert "BroadcastHashJoin [sub" in p
    assert "CartesianProduct" not in p


def test_hard_negative_mining_label_blocked(spark, sf_dir):
    """Candidate generation must be an equi-join on the label block
    key (hash join on c_label), never an all-pairs nested loop over
    the corpus."""
    p = _plan(spark, sf_dir, "hard_negative_mining")
    assert "BroadcastHashJoin [c_label" in p or "SortMergeJoin [c_label" in p


def test_link_prediction_wedge_and_anti(spark, sf_dir):
    """Link prediction: wedge join is hub-keyed, the existing-edge
    filter compiles to a LeftAnti join, and the top-k is a heap."""
    p = _plan(spark, sf_dir, "link_prediction_cn")
    assert "LeftAnti" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_interval_overlap_is_banded_equi_join(spark, sf_dir):
    """Range join via band blocking: the overlap self-join must be an
    equi-join on (customer, band) with the overlap predicate as a
    residual — never a nested-loop/cartesian theta join."""
    p = _plan(spark, sf_dir, "interval_overlap_pairs")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_salted_join_shuffles_on_salt(spark, sf_dir):
    """Skew mitigation: the salted join must stay a shuffle join on
    (key, salt) — a broadcast would defeat the demonstration."""
    p = _plan(spark, sf_dir, "salted_skew_join")
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p


def test_sweepline_windows_are_customer_partitioned(spark, sf_dir):
    """The concurrency cumsum must run per customer key; an
    unpartitioned window would funnel all boundary days through one
    task."""
    p = _plan(spark, sf_dir, "max_concurrent_intervals")
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "ck#" in line.split("windowspecdefinition", 1)[1], line


def test_bayes_tables_are_range_not_sequence_explode(spark, sf_dir):
    """Round-7 registration fix (judge item 2): the Bayes A/B kernels
    build their O(trials) lgamma table and O(conversions) term frames
    from spark.range (flat, partitioned), never from exploding a
    sequence() array materialized on a single row (2^31 cap, executor
    memory wall). The plan must contain Range sources and NO Generate
    (explode) node on either kernel."""
    for name in ("bayes_ab_posterior", "bayes_ab_expected_loss"):
        p = _plan(spark, sf_dir, name)
        assert "Range (" in p, name
        assert "Generate explode" not in p, name


def test_stump_boost_split_search_is_histogram(spark, sf_dir):
    """The M2-M4 twin's per-round split search must reduce the fact
    scan to a hash-aggregated (feature, value) cell frame (map-side
    combinable) and pick the stump via TakeOrderedAndProject — never a
    row-scale global sort. The registered query collects one stump row
    per round (driver boosting loop), so the probe targets the internal
    round plan, not the returned trace frame."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.io import lob_events
    from dissertation_iceberg_spark.queries.boosting import (
        _best_frame,
        _wq_sql,
    )
    from dissertation_iceberg_spark.queries.irls import (
        quantized_features_frame,
    )

    z_w = quantized_features_frame(lob_events(spark, sf_dir)).select(
        "y", "xq1", "xq2", "xq3", F.expr(_wq_sql(1)).alias("wq")
    )
    p = _best_frame(z_w)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p
