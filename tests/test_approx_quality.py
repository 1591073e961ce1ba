"""Approximation-quality property tests: every sketch-based scale twin is
validated against its exact anchor (HLL distinct counts, approximate
percentiles, and the streaming rate-source generator's schema parity with
the batch generator)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def test_hll_distinct_counts_close_to_exact(spark):
    from iot_big_data_engineering_spark.registry import queries

    qs = queries()
    exact = {
        (r.processing_date, r.sensor_type): r
        for r in qs["a2_daily_analytics"](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.processing_date, r.sensor_type): r
        for r in qs["a2_daily_analytics_approx"](spark, SF_SMOKE).collect()
    }
    assert exact.keys() == approx.keys()
    for k, a in approx.items():
        e = exact[k]
        assert a.record_count == e.record_count  # count(*) stays exact
        # rsd=0.01 → generous 5% acceptance band
        for col in ("unique_vehicles", "unique_sensors"):
            got, want = getattr(a, col), getattr(e, col)
            assert abs(got - want) <= max(1, 0.05 * want), (k, col, got, want)


def test_approx_percentiles_close_to_exact(spark):
    """adv6b embeds the rank-band check in its own output (the sketch
    guarantees RANK error ≤ 1/accuracy, so the estimate must fall inside
    the exact [p−0.01, p+0.01] quantile band): every flag must be TRUE and
    the exact columns must agree with adv6's. adv6b is not registered (a
    redundant sketch twin of the registered adv6), but the capability stays
    as a library function — imported directly here."""
    from iot_big_data_engineering_spark.operators.advanced import (
        adv6b_approx_percentiles,
    )
    from iot_big_data_engineering_spark.registry import queries

    qs = queries()
    exact = {r.event_type: r for r in qs["adv6_percentiles"](spark, SF_SMOKE).collect()}
    approx = {
        r.event_type: r
        for r in adv6b_approx_percentiles(spark, SF_SMOKE).collect()
    }
    assert exact.keys() == approx.keys()
    for k, a in approx.items():
        assert a.p50_within_band and a.p95_within_band, (k, a)
        assert a.p50 == exact[k].p50 and a.p95 == exact[k].p95, (k, a, exact[k])


def test_rate_stream_generator_matches_batch_schema(spark):
    """The streaming generator must produce the exact batch-generator
    schema and valid sensor types; driven briefly from the rate source."""
    from iot_big_data_engineering_spark.sources.generator import (
        rate_sensor_stream,
        synthetic_sensor_readings,
    )

    batch = synthetic_sensor_readings(spark, n=10)
    stream = rate_sensor_stream(spark, rows_per_second=200)
    assert stream.isStreaming
    assert stream.schema == batch.schema

    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("rate_out").count() == 0:
            time.sleep(1)
        rows = spark.table("rate_out").limit(50).collect()
    finally:
        q.stop()
    assert rows, "rate stream produced no rows in 30 s"
    types = {r.sensor_type for r in rows}
    assert types <= {"radar", "camera", "lidar", "ultrasonic", "imu", "gps"}
