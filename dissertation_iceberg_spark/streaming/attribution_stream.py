"""Streaming position-based (U-shaped) multi-touch attribution — the
streaming twin of queries/behavior_ops.position_attribution.

Batch needs the whole history to pair each purchase with its 30-minute
touch lookback; on a stream, the sealed fold (streaming/sealed.py)
buffers touches and purchases until the WATERMARK passes their event
time (only then can no older event still arrive), then folds them in
(ts, kind, event_id) order: a touch joins the per-user window, a
purchase is credited against the window's touches and emitted. A
purchase sorts after the touches of its own microsecond, which its
lookback includes. Each folded event first evicts the window's touches
older than its ts - lookback: every later purchase sits at or after
it, so none can reach them.

So state per user is bounded by one lookback span of touches plus the
events inside the watermark delay — independent of stream length.
Credit arithmetic replicates the batch operator's exactly: integer
micro-units, with the one middle-split division rounded HALF_UP on
the double quotient (Decimal replay of Spark's BigDecimal round), so
emitted credits are bit-equal to batch.
"""

from __future__ import annotations

from collections.abc import Callable
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dissertation_iceberg_spark.streaming.sealed import sealed_fold

# kind = 1-based position; purchase last, so it sorts after same-µs touches
KINDS = ("click", "view", "purchase")

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("p_id", LongType(), False),
        StructField("t_id", LongType(), False),
        StructField("touch_type", StringType(), False),
        StructField("credit_micro", LongType(), False),
    ]
)

# the lookback window's touches as parallel (ts_us, event_id, kind)
MODEL = {"win_ts": [], "win_id": [], "win_kind": []}


def _credit(rank: int, n: int) -> int:
    """Batch-identical U-shape credit in micro-units (rank is 1-based
    by (ts, id) within the purchase's window)."""
    if n == 1:
        return 1_000_000
    if n == 2:
        return 500_000
    if rank == 1 or rank == n:
        return 400_000
    # Spark's round(double) is BigDecimal HALF_UP on the double value
    return int(
        Decimal(200000.0 / (n - 2)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


def _make_step(lookback_us: int) -> Callable:
    def step(model: tuple, event: tuple) -> tuple[tuple, list[tuple]]:
        ts, kind, eid = event
        window = [t for t in zip(*model) if t[0] >= ts - lookback_us]
        rows = []
        if KINDS[kind - 1] == "purchase":
            n = len(window)
            # rank by (ts, id), as batch does
            for rank, (_, tid, tkind) in enumerate(sorted(window), start=1):
                rows.append((eid, tid, KINDS[tkind - 1], _credit(rank, n)))
        else:
            window.append((ts, eid, kind))
        return tuple([t[i] for t in window] for i in range(3)), rows

    return step


def streaming_position_attribution(
    events: DataFrame,
    lookback_us: int = 30 * 60 * 1_000_000,
    watermark: str = "30 minutes",
) -> DataFrame:
    """events stream (user_id, ts, event_id, event_type) ->
    per-touch U-shaped credits, emitted once the watermark seals each
    purchase. Append-mode; credits are bit-equal to the batch
    operator's for every sealed purchase (pinned in
    tests/test_stateful_streaming.py)."""
    kind = F.array_position(F.array(*map(F.lit, KINDS)), F.col("event_type"))
    return sealed_fold(
        events.filter(F.col("event_type").isin(*KINDS)), "user_id",
        [kind.alias("kind"), "event_id"], MODEL, _make_step(lookback_us),
        OUTPUT_SCHEMA, watermark,
    )
