"""E1-E3 workflow compositions: rows-only + the reference's own
self-consistency identities (SURVEY §5): OI ∈ [−1,1], complete grids,
portfolio PnL leg-sum identity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dissertation_iceberg_spark.plans.workflows import (
    oi_frame,
    portfolio_strategy_workflow,
    regression_workflow,
    single_strategy_workflow,
)


def test_oi_frame_invariants(spark, sf_dir):
    df = oi_frame(spark, sf_dir, 21_600).toPandas().sort_values("bin")
    assert len(df) > 0
    for c in ("oi_vis", "oi_ib", "oi_hid"):
        assert df[c].dropna().between(-1, 1).all()
        assert not df[c].isna().any()  # zero-filled
    gaps = df["bin"].diff().dropna().dt.total_seconds().unique()
    assert set(gaps) == {21_600.0}


def test_regression_workflow(spark, sf_dir):
    res = regression_workflow(spark, sf_dir, deltas=[21_600]).toPandas()
    assert len(res) == 1
    row = res.iloc[0]
    assert row["n"] > 10
    assert -1.0 <= row["adj_r2"] <= 1.0
    for c in res.columns:
        if c.startswith(("beta_", "t_")):
            assert abs(row[c]) < 1e9


def test_regression_workflow_drops_singular_arms(spark, sf_dir):
    """At sf0.001 the 30 s and 120 s OI designs are singular: those
    arms give no row (the zero-rows convention of
    regression_workflow_coefs), and the 3600 s arm still fits."""
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    res = regression_workflow(spark, sf, deltas=[30, 120, 3600]).toPandas()
    assert list(res["delta_sec"]) == [3600]
    assert res.iloc[0]["n"] > 10


def test_single_strategy_workflow(spark, sf_dir):
    pnl = single_strategy_workflow(spark, sf_dir).toPandas()
    assert len(pnl) > 0
    assert (pnl.n_positions > 0).all()


def test_portfolio_workflow_identity(spark, sf_dir):
    """Recompute PnL from the legs (portfolio_analysis_plots.ipynb
    cell 14 identity): pnl == Σtop fut_gross − Σbottom fut_gross."""
    from dissertation_iceberg_spark.queries.ml_rolling import rolling_refit_signal
    from dissertation_iceberg_spark.io import lob_events
    from dissertation_iceberg_spark.operators.strategy import cross_sectional_select
    from pyspark.sql import Window

    out = portfolio_strategy_workflow(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.n_top >= 0).all() and (out.n_bottom >= 0).all()

    sig = rolling_refit_signal(spark, sf_dir)
    e = lob_events(spark, sf_dir)
    fut = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("gross")
        )
        .withColumn(
            "fut_gross",
            F.lead("gross", 1).over(Window.partitionBy("user_id").orderBy("day")),
        )
    )
    j = sig.join(fut, ["user_id", "day"]).filter(F.col("fut_gross").isNotNull())
    sel = cross_sectional_select(j, "day", "signal_hat", "user_id", 0.2).toPandas()
    for _, row in out.iterrows():
        day_sel = sel[sel.day == row.day]
        expect = (
            day_sel[day_sel.is_top == 1].fut_gross.sum()
            - day_sel[day_sel.is_bottom == 1].fut_gross.sum()
        )
        assert abs(row.pnl - expect) < 1e-6, (row.day, row.pnl, expect)


def test_registered_workflow_coefs_match_numpy_solve(spark, sf_dir):
    """The oracled regression_workflow_coefs table (closed-form Cramer
    on micro-quantized Gram sums) agrees with regression_workflow's
    numpy solve on raw doubles to well inside the quantization grain —
    tying the driver-verified entry to the E1 composition it wraps."""
    from dissertation_iceberg_spark.plans.workflows import regression_workflow
    from dissertation_iceberg_spark.queries.workflow_queries import (
        E1_DELTAS,
        regression_workflow_coefs,
    )

    got = (
        regression_workflow_coefs(spark, sf_dir)
        .toPandas()
        .set_index("delta_sec")
        .sort_index()
    )
    want = (
        regression_workflow(spark, sf_dir, deltas=list(E1_DELTAS))
        .toPandas()
        .set_index("delta_sec")
        .sort_index()
    )
    assert list(got.index) == list(want.index) == sorted(E1_DELTAS)
    pairs = [
        ("n", "n", 0.0),
        ("beta_vis", "beta_oi_vis", 2e-4),
        ("beta_ib", "beta_oi_ib", 2e-4),
        ("beta_hid", "beta_oi_hid", 2e-4),
        ("t_vis", "t_oi_vis", 2e-2),
        ("t_ib", "t_oi_ib", 2e-2),
        ("t_hid", "t_oi_hid", 2e-2),
        ("adj_r2", "adj_r2", 1e-3),
    ]
    for g, w, tol in pairs:
        if w not in want.columns:
            continue
        for d in got.index:
            assert abs(float(got.loc[d, g]) - float(want.loc[d, w])) <= max(
                tol, tol * abs(float(want.loc[d, w]))
            ), (g, d, got.loc[d, g], want.loc[d, w])


def test_registered_e2_matches_workflow_twin(spark, sf_dir):
    """single_strategy_workflow_pnl (exact integer micro x cents sums)
    agrees with plans.workflows.single_strategy_workflow's
    double-arithmetic twin to well inside the quantization grain."""
    from dissertation_iceberg_spark.queries.workflow_queries import (
        single_strategy_workflow_pnl,
    )

    got = (
        single_strategy_workflow_pnl(spark, sf_dir)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    want = (
        single_strategy_workflow(spark, sf_dir)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    assert list(got.index) == list(want.index)
    assert (got["n_positions"] == want["n_positions"]).all()
    for g, w in (("pnl_unweighted", "pnl_unweighted"), ("pnl_weighted", "pnl_weighted")):
        diff = (got[g] - want[w]).abs()
        assert (diff <= 1e-4 + 1e-6 * want[w].abs()).all(), diff.max()
