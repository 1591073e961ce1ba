"""Tests of the benchmark's seeded events generator.

    python3 -m pytest perfbench/test_gen.py -q

One seed gives byte-identical files, two seeds give different data, and
the generated table passes the engine's declared-schema check in
``sources.tables.load_table``.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _write(tmp_path, name: str, seed: int) -> bytes:
    path = tmp_path / name / "events.parquet"
    path.parent.mkdir()
    gen.write(gen.events(seed, 1000), str(path))
    return path.read_bytes()


def test_same_seed_is_byte_identical(tmp_path):
    assert _write(tmp_path, "a", 7) == _write(tmp_path, "b", 7)


def test_different_seeds_differ(tmp_path):
    assert _write(tmp_path, "a", 7) != _write(tmp_path, "b", 8)
    ta = pq.read_table(tmp_path / "a" / "events.parquet")
    tb = pq.read_table(tmp_path / "b" / "events.parquet")
    assert ta.num_rows == tb.num_rows
    assert not ta.equals(tb)


def test_ingest_deliveries_differ_by_salt():
    a = gen.events(3, 100, salt=1)
    assert a.equals(gen.events(3, 100, salt=1))
    assert not a.equals(gen.events(3, 100, salt=2))


def test_events_shape():
    t = gen.events(5, 20_000).to_pandas()
    assert set(t.event_type) == set(gen.EVENT_TYPES)
    assert 1400 <= t.user_id.nunique() <= gen.N_USERS
    assert t.ts.is_monotonic_increasing
    days = (t.ts.max() - t.ts.min()).days
    assert 28 <= days < gen.EVENTS_DAYS
    assert t.value.min() >= 0 and t.value.quantile(0.99) > 3 * t.value.median()
    assert t.props.str.fullmatch(r'\{"k": \d{1,2}\}').all()


def test_events_pass_declared_schema_check(tmp_path):
    pytest.importorskip("pyspark")
    from iot_big_data_engineering_spark.schema import TESTDATA_SCHEMAS
    from iot_big_data_engineering_spark.session import get_spark
    from iot_big_data_engineering_spark.sources.tables import load_table

    _write(tmp_path, "t", 1)
    spark = get_spark(app_name="perfbench-gen-test", master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    try:
        df = load_table(spark, str(tmp_path / "t"), "events")
        assert df.schema == TESTDATA_SCHEMAS["events"]
        assert df.count() == 1000
    finally:
        spark.stop()
