"""As-of / iceberg-tag join — the reference's signature operator.

Reference parity (SURVEY §2.3 J1): order_imbalance.py:25-48
(``iceberg_tag``) does ``pd.merge_asof(direction='forward',
tolerance='1ms', by=['ticker','price'])``: a visible execution (type 4)
is an iceberg refill if the NEXT limit submission (type 1) at the same
(ticker, price) arrives within a forward tolerance (inclusive).

Spark-first formulation (the 100 TB-safe choice, SURVEY §4): no native
as-of join, and an interval-predicate range join would degrade to
broadcast-nested-loop. Instead: a single window pass —

    first_following(submission ts) OVER (PARTITION BY by-keys
                                         ORDER BY ts, seq)

then flag rows whose next-submission ts lies within tolerance. One
shuffle on the by-keys, linear scan per partition, whole-stage codegen
throughout. Tie semantics match merge_asof(allow_exact_matches=True):
a submission at exactly ts+tolerance matches (inclusive); a submission
at the same ts matches only if it follows in (ts, seq) order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.time_bins import micros


def asof_next_within(
    df: DataFrame,
    probe_pred: Column,
    match_pred: Column,
    by_cols: list[str],
    ts_col: str = "ts",
    seq_col: str = "event_id",
    tolerance_us: int = 1_000,
) -> DataFrame:
    """Generic forward as-of existence flag.

    Rows satisfying ``probe_pred`` get ``iceberg`` = 1 if the next row
    satisfying ``match_pred`` within the same ``by_cols`` partition
    (ordered by ts, seq) occurs no later than ``tolerance_us``
    microseconds after them. Non-probe rows pass through with NULL flag.
    """
    # "first following match in (ts, seq) asc order" == "running min of
    # matches strictly preceding in (ts, seq) DESC order". The reversed
    # formulation is a growing-frame running aggregate — O(n) per
    # partition — where an unbounded-FOLLOWING frame would re-scan the
    # tail per row (O(n²)) in Spark's window exec.
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.desc(ts_col), F.desc(seq_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    next_match_us = F.min(F.when(match_pred, micros(ts_col))).over(w)
    flag = F.when(
        probe_pred,
        F.coalesce(
            (next_match_us <= micros(ts_col) + int(tolerance_us)).cast("int"),
            F.lit(0),
        ),
    )
    return df.withColumn("iceberg", flag)


def iceberg_tag(
    df: DataFrame,
    exec_type: Column,
    submit_type: Column,
    by_cols: list[str],
) -> DataFrame:
    """Tag visible executions refilled within 1 ms (ordered by ts,
    event_id) as iceberg=1, returning only the execution rows
    (order_imbalance.py:44-47)."""
    tagged = asof_next_within(
        df, probe_pred=exec_type, match_pred=submit_type, by_cols=by_cols
    )
    return tagged.filter(exec_type)
