"""The shared read path: ``load_table``'s schema memo (a repeat load of an
unchanged table launches no Spark job; a rewritten file or a new part file
re-infers) and the pinned schema of the quality-checked sensor view, batch
and streaming."""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from iot_big_data_engineering_spark.schema import TESTDATA_SCHEMAS
from iot_big_data_engineering_spark.sources.sensor_view import quality_checked
from iot_big_data_engineering_spark.sources.tables import load_table, table_bytes
from iot_big_data_engineering_spark.streaming.pipeline import sensor_stream

from .conftest import SF_SMOKE

_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _events(n: int, first_id: int = 0, ts_unit: str = "us", extra: bool = False) -> pa.Table:
    ids = list(range(first_id, first_id + n))
    ts = pa.array([_T0_US + i * 1_000_000 for i in ids], pa.int64()).cast(pa.timestamp("us"))
    cols = {
        "event_id": pa.array(ids, pa.int64()),
        "ts": ts.cast(pa.timestamp(ts_unit)),
        "user_id": pa.array([i % 7 for i in ids], pa.int64()),
        "event_type": pa.array(["click", "view"] * (n // 2) + ["error"] * (n % 2)),
        "value": pa.array([i * 1.5 for i in ids], pa.float64()),
        "props": pa.array([f'{{"k": {i % 100}}}' for i in ids]),
    }
    if extra:
        cols["extra"] = pa.array([str(i) for i in ids])
    return pa.table(cols)


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched, counted
    under a job group with the status tracker. A sentinel job in a second
    group follows: the listener bus is FIFO, so once the sentinel is
    visible every job ``fn`` started has been recorded."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"

    def run_in(g, f):
        sc.setJobGroup(g, g)
        try:
            return f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    out = run_in(group, fn)
    run_in(group + "-sentinel", lambda: sc.parallelize([1], 1).count())
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ids_and_ts(df):
    return sorted((r.event_id, r.ts) for r in df.select("event_id", "ts").collect())


def test_repeat_load_of_unchanged_table_launches_no_job(spark, tmp_path):
    pq.write_table(_events(20), str(tmp_path / "events.parquet"))
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    second, second_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert first_jobs >= 1  # schema inference on first touch: the counter sees jobs
    assert second_jobs == 0
    assert second.schema == first.schema == TESTDATA_SCHEMAS["events"]
    assert _ids_and_ts(second) == _ids_and_ts(first)
    assert len(_ids_and_ts(second)) == 20


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """Same path, new physical schema: ts as TIMESTAMP(NANOS) instead of
    micros, plus a column. A stale memo would decode ts as micros."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(_events(10), path)
    before = _ids_and_ts(load_table(spark, str(tmp_path), "events"))
    pq.write_table(_events(30, ts_unit="ns", extra=True), path)
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs >= 1
    assert df.schema == TESTDATA_SCHEMAS["events"]
    after = _ids_and_ts(df)
    assert len(after) == 30
    assert after[:10] == before  # same ids → same instants, whatever the unit


def test_directory_table_gaining_a_part_file_is_reinferred(spark, tmp_path):
    table = tmp_path / "events.parquet"
    table.mkdir()
    pq.write_table(_events(10), str(table / "part-0.parquet"))
    (table / "_SUCCESS").write_bytes(b"")
    load_table(spark, str(tmp_path), "events")
    _, unchanged_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert unchanged_jobs == 0

    pq.write_table(_events(5, first_id=10), str(table / "part-1.parquet"))
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs >= 1
    assert [i for i, _ in _ids_and_ts(df)] == list(range(15))
    _, again_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert again_jobs == 0
    parts = sum((table / f"part-{i}.parquet").stat().st_size for i in range(2))
    assert table_bytes(str(tmp_path), "events") == parts


# (name, type, nullable) of the quality-checked sensor view.
_SENSOR_VIEW_SCHEMA = [
    ("ts", T.TimestampType(), True),
    ("sensor_id", T.StringType(), True),
    ("vehicle_id", T.StringType(), False),
    ("sensor_type", T.StringType(), True),
    ("value", T.DoubleType(), True),
    ("measurements", T.StringType(), True),
    ("k", T.IntegerType(), True),
    ("q_int", T.IntegerType(), False),
    ("quality_score", T.DoubleType(), True),
    ("anomaly_score", T.DoubleType(), False),
    ("processing_timestamp", T.TimestampType(), True),
]


def test_sensor_view_schema_is_pinned_batch_and_stream(spark):
    """A mistyped SQL literal (``5.0`` parses as DECIMAL) changes a column
    type here, before any oracle comparison runs."""
    batch = quality_checked(spark, SF_SMOKE).schema
    assert [(f.name, f.dataType, f.nullable) for f in batch.fields] == _SENSOR_VIEW_SCHEMA
    assert sensor_stream(spark, SF_SMOKE).schema == batch
