"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in ``iot_big_data_engineering_spark``; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iot_big_data_engineering_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (A2 daily sensor analytics) on /root/testdata/sf0.001."""
    from iot_big_data_engineering_spark.operators.analytics import a2_daily_analytics

    return a2_daily_analytics(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every query in ``queries()``."""
    return registry.oracle_sql()
