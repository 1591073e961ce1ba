"""r18 input-size-gated scale shape (guide §2/§3/§6; VERDICT r17 Next
#4): j23/j23b's basket-array pair expansion must compute VALUES
IDENTICAL to the local (broadcast self-join) form — the gate may only
choose the physical plan, never the result. (dq3's candidate shared
fact scan was measured and rejected outright — see the operator's
comment — so no gate exists there.)"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE, SF_CORRECT


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_j23_basket_shape_identical(spark, sf_dir):
    from iot_big_data_engineering_spark.operators.joins import (
        frequent_pairs,
        frequent_pairs_log,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem")
    assert _rows(frequent_pairs(l, scale_shape=False)) == _rows(
        frequent_pairs(l, scale_shape=True)
    )
    assert _rows(frequent_pairs_log(l, scale_shape=False)) == _rows(
        frequent_pairs_log(l, scale_shape=True)
    )


def test_j23_basket_shape_hand_baskets(spark):
    """Hand-built baskets through both shapes: duplicate (okey, pkey)
    lines collapse identically, support floors bind identically."""
    from iot_big_data_engineering_spark.operators.joins import (
        frequent_pairs,
    )

    rows = []
    # 6 orders over parts 1..4; part 4 appears in only 2 orders (fails
    # item support 2? use support=2 → passes; tune so floors bind)
    baskets = {
        1: [1, 2, 3],
        2: [1, 2],
        3: [1, 2, 3, 3],  # duplicate line for the same part
        4: [2, 3],
        5: [1, 4],
        6: [4],
    }
    for okey, parts in baskets.items():
        rows.extend((okey, p) for p in parts)
    l = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    )
    a = _rows(frequent_pairs(l, item_support=2, pair_support=2,
                             scale_shape=False))
    b = _rows(frequent_pairs(l, item_support=2, pair_support=2,
                             scale_shape=True))
    assert a == b
    assert a  # non-vacuous: at least one surviving pair


def test_j23_basket_shape_caches_only_items(spark):
    """The basket form is the frequent-item frame's only consumer, so it
    caches just the distinct (okey, pkey) items; the self-join form,
    whose two sides both read the frequent items, caches them too."""
    import re

    from iot_big_data_engineering_spark.operators.joins import (
        _frequent_pair_counts,
    )
    from iot_big_data_engineering_spark.plans.checks import plan_str
    from iot_big_data_engineering_spark.sources.tables import load_table

    def cached(scale_shape):
        # a cache left by another test would substitute into this plan
        spark.catalog.clearCache()
        df = _frequent_pair_counts(
            load_table(spark, SF_SMOKE, "lineitem"), 2, 2, scale_shape
        )
        scans = re.findall(
            r"InMemoryTableScan \[([^\]]*)\]", plan_str(df, mode="simple")
        )
        # the columns any cache scan reads; only a scan of the cached
        # frequent items reads more than okey and pkey
        return {re.sub(r"#\d+L?", "", c).strip() for s in scans for c in s.split(",")}

    try:
        assert cached(True) == {"okey", "pkey"}
        assert cached(False) > {"okey", "pkey"}
    finally:
        spark.catalog.clearCache()


def test_gate_reads_input_size_only(tmp_path):
    """table_bytes is a pure stat of the input file(s) — missing file →
    None (callers then assume the scale form)."""
    from iot_big_data_engineering_spark.sources.tables import table_bytes

    assert table_bytes(str(tmp_path), "lineitem") is None
    p = tmp_path / "lineitem.parquet"
    p.write_bytes(b"x" * 1024)
    assert table_bytes(str(tmp_path), "lineitem") == 1024
