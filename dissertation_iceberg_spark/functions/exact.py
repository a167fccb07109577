"""Exact-arithmetic helpers shared by the query modules: integer cents,
cross-engine-stable 6-dp rounding, Cramer determinants generated as
SQL strings, and Spark's HALF_UP rounding for Python-side twins.

Each Column helper has a SQL mirror used by the DuckDB oracles, and
both sides evaluate the identical op shape, so results match bit for
bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import lob_events

CENTS_SQL = "CAST(round(value * 100) AS BIGINT)"

R6_SQL = "CAST(round(({x}) * 1e6) AS BIGINT) / 1e6"


def lob_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOB event frame plus ``cents`` = round(value * 100) as
    BIGINT (mirrored by :data:`CENTS_SQL`)."""
    return lob_events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )


def r6(col):
    """6-dp display rounding, cross-engine-stable form.

    ``F.round(x, 6)`` diverges between engines near decimal midpoints
    (Spark rounds the exact binary expansion via BigDecimal; DuckDB
    multiplies by 1e6 and nearbyints) — observed 1-in-1e3 rows at
    sf0.1. Round-to-INTEGER of the identical double is bit-stable, so
    the portable form is round(x*1e6)::BIGINT / 1e6 on BOTH sides
    (mirrored by :data:`R6_SQL`)."""
    return F.round(col * 1e6).cast("long") / 1e6


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
