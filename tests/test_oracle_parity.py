"""The heart of the test suite: every registered query (each carries an
oracle) is run on Spark AND DuckDB at sf=0.001 (fast) and compared — the
local mirror of the driver's correctness gate. A slower sf=0.01 sweep
runs when SPARK_GRAFT_FULL=1.
"""

from __future__ import annotations

import os

import pytest

from iot_big_data_engineering_spark.registry import all_queries

from .conftest import SF_CORRECT, SF_SMOKE
from .oracle import compare, run_oracle

SF = SF_CORRECT if os.environ.get("SPARK_GRAFT_FULL") else SF_SMOKE

_ALL = list(all_queries().values())


@pytest.mark.parametrize("query", _ALL, ids=[q.name for q in _ALL])
def test_oracle_parity(spark, query):
    df = query.fn(spark, SF)
    cols, types, rows = run_oracle(query.oracle, SF)
    compare(df, cols, types, rows)

