"""Exact-arithmetic helpers shared by the query modules: the one
DOUBLE -> BIGINT rounding kernel, integer cents, cross-engine-stable
6-dp rounding, Cramer determinants generated as SQL strings, and
Spark's HALF_UP rounding for Python-side twins.

Each Column helper has a SQL mirror used by the DuckDB oracles, and
both sides evaluate the identical op shape, so results match bit for
bit. :func:`round_long` is the one exception to "identical op shape":
it returns exactly what ``CAST(round(x) AS BIGINT)`` returns on a
DOUBLE, without the per-row ``java.math.BigDecimal`` that Spark's
``round`` builds, so the oracles keep the plain SQL form.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import lob_events

CENTS_SQL = "CAST(round(value * 100) AS BIGINT)"

R6_SQL = "CAST(round(({x}) * 1e6) AS BIGINT) / 1e6"

# From 2**52 up every double is an integer, so rounding is the identity.
_INTEGRAL_FROM = float(2**52)


def round_long(x):
    """``F.round(x).cast("long")`` for a DOUBLE ``x``, in floor
    arithmetic: HALF_UP (half away from zero) on the exact binary value.

    Below 2**52, ``a - floor(a)`` is the exact fraction of ``a = |x|``,
    so comparing it with 0.5 decides the tie the way Spark's BigDecimal
    rounding does (0.49999999999999994 stays 0, where the naive
    ``floor(a + 0.5)`` makes it 1). From 2**52 up, and for NaN and
    ±inf (NaN sorts above every double), ``x`` goes to the same cast
    ``round(x)`` would reach, so overflow behaves the same, ANSI errors
    included. NULL stays NULL. DECIMAL arguments keep ``F.round``: a
    large DECIMAL is not integral, and this cast would truncate it."""
    a = F.abs(x)
    t = F.floor(a)
    r = t + (a - t >= 0.5).cast("long")
    return F.when(a < _INTEGRAL_FROM, F.when(x < 0, -r).otherwise(r)).otherwise(
        x.cast("long")
    )


def lob_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOB event frame plus ``cents`` = round(value * 100) as
    BIGINT (mirrored by :data:`CENTS_SQL`)."""
    return lob_events(spark, sf_dir).withColumn(
        "cents", round_long(F.col("value") * 100)
    )


def r6(col):
    """6-dp display rounding, cross-engine-stable form.

    ``F.round(x, 6)`` diverges between engines near decimal midpoints
    (Spark rounds the exact binary expansion via BigDecimal; DuckDB
    multiplies by 1e6 and nearbyints) — observed 1-in-1e3 rows at
    sf0.1. Round-to-INTEGER of the identical double is bit-stable, so
    the portable form is round(x*1e6)::BIGINT / 1e6 on BOTH sides
    (mirrored by :data:`R6_SQL`)."""
    return round_long(col * 1e6) / 1e6


def det3(m: list[list[str]]) -> str:
    """3x3 determinant of SQL expression strings, cofactor-expanded
    along the first row."""
    return (
        f"({m[0][0]} * ({m[1][1]} * {m[2][2]} - {m[1][2]} * {m[2][1]})"
        f" - {m[0][1]} * ({m[1][0]} * {m[2][2]} - {m[1][2]} * {m[2][0]})"
        f" + {m[0][2]} * ({m[1][0]} * {m[2][1]} - {m[1][1]} * {m[2][0]}))"
    )


def det4(m: list[list[str]]) -> str:
    """4x4 determinant of SQL expression strings, cofactor-expanded
    along the first row into :func:`det3` minors."""
    minors = [
        det3([[m[r][c] for c in range(4) if c != j] for r in range(1, 4)])
        for j in range(4)
    ]
    return (
        f"({m[0][0]} * {minors[0]} - {m[0][1]} * {minors[1]}"
        f" + {m[0][2]} * {minors[2]} - {m[0][3]} * {minors[3]})"
    )


def round_half_up(x: float) -> int:
    """Spark's F.round on DOUBLE: HALF_UP = half away from zero
    (Python round() is banker's — wrong twin)."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))
