"""Event sessionization, funnel, and cohort-retention operators.

Extension surface (ROADMAP: large-scale pipeline ops the reference's
event-stream analyses imply but never needed on LOB data — the
reference's closest shape is the per-user event grouping in
``trading_strategy.py:415-416``). All three are classic event-table
operators a 100 TB clickstream / training-telemetry pipeline needs.

Scale design:

- ``sessionize`` uses Spark's native ``session_window`` — the gap-merge
  runs inside a single hash aggregation keyed on (user, window), so the
  only shuffle is on ``user_id`` and state per key is one open window,
  not the user's full history. The same call works unchanged under
  Structured Streaming with a watermark.
- ``funnel_stages`` is a chain of per-user conditional mins; every
  stage re-aggregates on the same ``user_id`` key, so all joins are
  co-partitioned after the first exchange (Catalyst reuses it) and the
  per-stage frames are user-cardinality, not event-cardinality.
- ``retention_cohorts`` reduces events to distinct (user, week) pairs
  FIRST — the expensive dedup happens at event cardinality exactly
  once; the cohort join then runs at user-week cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros

WEEK_US = 7 * 86_400 * 1_000_000


def sessionize(
    events: DataFrame, value_cents: Column | None = None, gap: str = "6 hours"
) -> DataFrame:
    """Gap-based sessions per user via native ``session_window``.

    Two consecutive events of the same user belong to one session iff
    their timestamp difference is strictly less than ``gap`` (Spark's
    session window is ``[start, last_ts + gap)`` with an exclusive
    end, so a diff of exactly ``gap`` starts a new session — the
    DuckDB oracle mirrors this with ``diff_us >= gap_us``).

    Monetary sums use the integer-cents trick so the per-session sum
    is exact under any aggregation order.
    """
    us = micros(F.col("ts"))
    cents = value_cents if value_cents is not None else F.lit(0).cast("long")
    return (
        events.groupBy("user_id", F.session_window(F.col("ts"), gap))
        .agg(
            F.min(us).alias("session_start_us"),
            F.max(us).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / F.lit(1e2)).alias("session_value"),
        )
        .drop("session_window")
    )


def funnel_stages(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered funnel: first time each user reaches each step, where
    step k+1 must happen strictly AFTER the user's step-k time.

    One conditional min-aggregate per step, each keyed on the user —
    the event table is scanned once per stage but each stage's output
    is user-cardinality. Unreached stages are 0 (not NULL) so the
    output stays integral.
    """
    us = micros(F.col("ts"))
    reached = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min(us).alias(f"{steps[0]}_us"))
    )
    prev = f"{steps[0]}_us"
    for step in steps[1:]:
        col = f"{step}_us"
        nxt = (
            events.filter(F.col("event_type") == step)
            .join(reached.select("user_id", prev), "user_id")
            .filter(us > F.col(prev))
            .groupBy("user_id")
            .agg(F.min(us).alias(col))
        )
        reached = reached.join(nxt, "user_id", "left")
        prev = col
    out = reached
    for step in steps[1:]:
        col = f"{step}_us"
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(0)))
    return out


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week,
    counted at each whole-week offset they were active again.

    ``date_trunc('week')`` is ISO/Monday-start in both Spark and
    DuckDB, so cohort keys agree across engines; offsets are exact
    integer multiples of a week in epoch-µs space.
    """
    uw = events.select(
        "user_id",
        micros(F.date_trunc("week", F.col("ts"))).alias("week_us"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week_us").alias("cohort_week_us"))
    return (
        uw.join(cohort, "user_id")
        .select(
            "cohort_week_us",
            ((F.col("week_us") - F.col("cohort_week_us")) / F.lit(WEEK_US))
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week_us", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def gap_fill_linear(obs: DataFrame) -> DataFrame:
    """Densify each group's integer bin range and linearly interpolate
    missing values from the surrounding observations.

    Input: one row per OBSERVED (event_type, bi) with an integer-scaled
    ``cents`` value. Output: one row per bin in [min, max] per group, with
    ``value`` = cents/100 for observed bins, the linear fill for
    interior gaps (NULL at leading/trailing edges) and a ``filled``
    flag. The fill is computed as an exact integer numerator over the
    gap length with one double division — engine-reproducible without
    rounding (half-ulp rounding ties are the failure mode this
    avoids). Scale: grids generate per-group; the scaffolding is two
    O(bins) windows per group, nothing row-scale."""
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("bi").alias("__mn"), F.max("bi").alias("__mx"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("__mn"), F.col("__mx"))).alias("bi"),
        )
    )
    g = grid.join(obs, ["event_type", "bi"], "left")
    # Both fills are RUNNING frames (round 8): the backward fill runs
    # over the ascending order, the forward fill over the DESCENDING
    # order — `first(...) OVER (ROWS CURRENT ROW AND UNBOUNDED
    # FOLLOWING)` is executed by Spark's UnboundedFollowing frame,
    # which rescans current..end for EVERY row: O(bins²) per group
    # (measured 33 s at sf0.1; the bin order is total, so the reversed
    # running `last` is value-identical). Each window value is
    # computed ONCE in this projection — the previous single-pass
    # expression form expanded into 12 window aggregates because
    # Spark does not CSE window expressions across output columns.
    wp = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bi").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bi").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = F.col("cents")
    mark = F.when(c.isNotNull(), F.col("bi"))
    filled = g.select(
        "event_type",
        "bi",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("__pc"),
        F.last(mark, ignorenulls=True).over(wp).alias("__pb"),
        F.last("cents", ignorenulls=True).over(wn).alias("__nc"),
        F.last(mark, ignorenulls=True).over(wn).alias("__nb"),
    )
    pc, pb = F.col("__pc"), F.col("__pb")
    nc, nb = F.col("__nc"), F.col("__nb")
    interp = (
        (pc * (nb - pb) + (nc - pc) * (F.col("bi") - pb)).cast("double")
        / (nb - pb)
        / F.lit(1e2)
    )
    return filled.select(
        "event_type",
        "bi",
        F.when(c.isNotNull(), c / F.lit(1e2))
        .when(pc.isNotNull() & nc.isNotNull(), interp)
        .alias("value"),
        (c.isNull() & pc.isNotNull() & nc.isNotNull()).alias("filled"),
    )
