"""End-to-end workflow compositions — the reference's three entry
points (SURVEY §3 E1-E3) re-expressed over the engine's operators.

The reference runs these as sequential scripts that re-derive
intermediate frames from raw archives at every step; here each
workflow is ONE composed lazy plan (Catalyst sees the whole pipeline,
reuses scans/exchanges, prunes columns end-to-end). The sequential
day-by-day refit of E2/E3 is replaced by the associative Gram-window
formulation (queries/ml_rolling.py) — per SURVEY §7's watch list this
removes the reference's biggest inefficiency (re-reading 5 days of
archives per prediction day, trading_strategy.py:192-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import bin_end
from dissertation_iceberg_spark.io import lob_events
from dissertation_iceberg_spark.operators.iceberg import asof_next_within
from dissertation_iceberg_spark.operators.order_imbalance import (
    densify,
    oi_expr,
    with_returns,
)
from dissertation_iceberg_spark.operators.regression import ols_fit
from dissertation_iceberg_spark.operators.strategy import (
    cross_sectional_select,
    portfolio_pnl,
)
from dissertation_iceberg_spark.functions.exact import round_long


def tagged_lob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 steps 1-2: the as-of iceberg-tagged LOB frame (a purchase
    matched to a signup of the same user within 6 hours). Delta-
    INDEPENDENT — callers that loop deltas (regression_workflow's 9-arm
    sweep) should compute this once, ``session.pin`` it, and pass it to
    :func:`oi_frame`, so the event scan + the tagging window sort run
    once instead of once per delta (the round-8 E1 10x rehearsal
    measured the per-delta re-derivation as the dominant cost — see
    SCALE.md)."""
    lob = lob_events(spark, sf_dir)
    return asof_next_within(
        lob,
        probe_pred=F.col("event_type") == "purchase",
        match_pred=F.col("event_type") == "signup",
        by_cols=["user_id"],
        tolerance_us=6 * 3600 * 1_000_000,
    )


def oi_frame(
    spark: SparkSession,
    sf_dir: str,
    delta_sec: int,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """E1 step 3: tag icebergs (:func:`tagged_lob`, 6 h tolerance) ->
    per-bin OI (vis/ib/hid split) -> densify -> returns. One lazy plan.
    Pass a precomputed (pinned) ``tagged`` frame when looping deltas."""
    if tagged is None:
        tagged = tagged_lob(spark, sf_dir)
    d, s = F.col("direction"), F.col("size")
    is_exec = F.col("event_type") == "purchase"
    is_hid = F.col("event_type") == "error"
    binned = (
        tagged.withColumn("bin", bin_end("ts", delta_sec))
        .groupBy("bin")
        .agg(
            oi_expr(d, s, is_exec & (F.col("iceberg") == 0)).alias("oi_vis"),
            oi_expr(d, s, is_exec & (F.col("iceberg") == 1)).alias("oi_ib"),
            oi_expr(d, s, is_hid).alias("oi_hid"),
            F.count(F.when(is_exec, 1)).alias("n_exec"),
            F.expr("min_by(value, event_id)").alias("first_price"),
            F.expr("max_by(value, event_id)").alias("last_price"),
        )
    )
    dz = densify(binned, delta_sec, zero_fill=("oi_vis", "oi_ib", "oi_hid", "n_exec"))
    return with_returns(dz)


def regression_workflow(
    spark: SparkSession, sf_dir: str, deltas: list[int] = (3600, 21600)
) -> DataFrame:
    """E1: per-delta OI frames -> exact OLS of future return on the OI
    columns -> coefficient table (OI_results shape,
    chunk_pipeline.py:353-412).

    The delta-independent tagged frame is computed ONCE and pinned —
    the reference re-reads 5 days of archives per delta
    (chunk_pipeline.py:129-143 inside the delta loop); the round-8 10x
    rehearsal showed the same barrier in the naive composed plan (each
    union arm re-ran the scan + tagging window sort), so the loop now
    rides one materialization (SCALE.md: e1_workflow rows). A delta
    whose OLS design is singular has no row (``ols_fit``)."""
    from dissertation_iceberg_spark.session import pin

    tg = pin(tagged_lob(spark, sf_dir))
    names = ["oi_vis", "oi_ib", "oi_hid"]
    coefs = [*names, "const"]
    schema = ", ".join(
        ["delta_sec BIGINT", "n BIGINT", "adj_r2 DOUBLE"]
        + [f"{p}_{k} DOUBLE" for p in ("beta", "t") for k in coefs]
    )
    rows = []
    for delta in deltas:
        frame = oi_frame(spark, sf_dir, delta, tagged=tg).filter(
            F.col("fut_log_ret").isNotNull()
        )
        for fit in ols_fit(frame, names, "fut_log_ret", group_cols=None):
            rows.append(
                (delta, fit["n"], fit["adj_r2"])
                + tuple(fit[d][k] for d in ("beta", "tvals") for k in coefs)
            )
    return spark.createDataFrame(rows, schema)


def single_strategy_workflow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E2: rolling-refit signals -> per-day single-'stock' PnL
    (unweighted and |signal|-weighted, trading_strategy.py:315-324)."""
    from dissertation_iceberg_spark.queries.ml_rolling import rolling_refit_signal

    sig = rolling_refit_signal(spark, sf_dir)
    e = lob_events(spark, sf_dir)
    fut = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg((F.sum(round_long(F.col("value") * 100)) / 100.0).alias("gross"))
        .withColumn(
            "fut_gross",
            F.lead("gross", 1).over(Window.partitionBy("user_id").orderBy("day")),
        )
    )
    j = sig.join(fut, ["user_id", "day"]).filter(F.col("fut_gross").isNotNull())
    pos = F.col("signal_hat") > 0
    neg = F.col("signal_hat") < 0
    return j.groupBy("day").agg(
        (
            F.sum(F.when(pos, F.col("fut_gross")).otherwise(0.0))
            - F.sum(F.when(neg, F.col("fut_gross")).otherwise(0.0))
        ).alias("pnl_unweighted"),
        F.sum(F.abs("signal_hat") * F.signum("signal_hat") * F.col("fut_gross")).alias(
            "pnl_weighted"
        ),
        F.count(F.lit(1)).alias("n_positions"),
    )


def portfolio_strategy_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: cross-sectional rank of rolling-refit signals -> top/bottom
    quintile legs -> daily portfolio PnL + counts (trading_strategy.py:347-464)."""
    from dissertation_iceberg_spark.queries.ml_rolling import rolling_refit_signal

    sig = rolling_refit_signal(spark, sf_dir)
    e = lob_events(spark, sf_dir)
    fut = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg((F.sum(round_long(F.col("value") * 100)) / 100.0).alias("gross"))
        .withColumn(
            "fut_gross",
            F.lead("gross", 1).over(Window.partitionBy("user_id").orderBy("day")),
        )
    )
    j = sig.join(fut, ["user_id", "day"]).filter(F.col("fut_gross").isNotNull())
    sel = cross_sectional_select(j, "day", "signal_hat", "user_id", 0.2)
    return portfolio_pnl(sel, "day", "fut_gross")
