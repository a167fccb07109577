"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query DataFrame on sf0.001
queries()      -> {name: (spark, sf_dir) -> DataFrame} per SURVEY §2 op
oracle_sql()   -> {name: DuckDB SQL} exact mirrors for the hash compare
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dissertation_iceberg_spark.queries.registry import all_oracles, all_queries
from dissertation_iceberg_spark.session import apply_runtime_conf


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly conditional order-imbalance with calendar
    densification, first/last prices and future returns (SURVEY §7
    step 3) over /root/testdata/sf0.001.

    On a session that ``get_spark`` did not start, PySpark's per-Column
    origin capture (``spark.python.sql.dataFrameDebugging.enabled``)
    stays on: the conf is static, so nothing at runtime can turn it
    off. A warm build here then sends about 930 non-delete gateway
    commands, against 389 on a ``get_spark`` session
    (``tools/time_registry.GatewayCommands``)."""
    apply_runtime_conf(spark)
    from dissertation_iceberg_spark.queries.core import oi_hourly_densified

    return oi_hourly_densified(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
