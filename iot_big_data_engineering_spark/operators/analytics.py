"""Batch aggregation suite — SURVEY.md §2.3 A1-A9 + views A15/A16.

Each query is a Spark DataFrame function over the quality-checked sensor view
(events mapping, ``sources/sensor_view.py``) registered together with its
DuckDB oracle SQL. Reference anchors:

- A1 windowed analytics      SensorDataProcessor.scala:160-169
- A2 daily analytics         SensorDataAnalytics.scala:101-114
- A3 per-type measurements   SensorDataAnalytics.scala:119-153
- A4 vehicle analytics       SensorDataAnalytics.scala:158-172
- A5 quality histogram       SensorDataAnalytics.scala:177-193
- A6 anomaly analytics       SensorDataAnalytics.scala:198-210
- A7 summary report          SensorDataAnalytics.scala:264-276
- A8 sensor-type report      SensorDataAnalytics.scala:284-295
- A9 vehicle top-k           src/api/sensor_api.py:323-335
- A15/A16 serving views      docker/init-db.sql:62-85

Scale notes: every aggregation here is a single hash-aggregate over keys of
low-to-moderate cardinality (date × sensor_type ≤ a few thousand groups;
date × vehicle_id ~ |vehicles| × days). Spark plans partial (map-side)
aggregation before the exchange, so the shuffle carries only group rows, not
input rows — this holds at 100 TB. The exact ``countDistinct`` columns are
the one scale hazard (they force the agg to carry distinct sets); A1/A2
therefore have ``approx_`` twin queries using HLL sketches, the form you
would run at 100 TB.

Conditional-aggregate form: the reference writes ``when(cond, avg(x))``
(valid only because sensor_type is a grouping key); we use the idiomatic
``avg(when(cond, x))`` (SURVEY §7.4.7) — equivalent here, safe everywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import fround
from ..registry import register
from ..sources.sensor_view import SENSOR_ORACLE_CTE, avg_quality, quality_checked

_R = 6  # rounding for floating aggregates, applied identically in oracle SQL


def _with_date(df: DataFrame) -> DataFrame:
    return df.withColumn("processing_date", F.to_date("ts"))


# ---------------------------------------------------------------------------
# Integer-exact stddev of quality_score. Raw stddev(quality_score) aggregates
# order-sensitive doubles (scores are binary-inexact multiples of 0.2), so
# Spark and DuckDB can disagree in the last ulp depending on partition
# summation order — the exact bug class q_int already fixes for avg. Instead
# derive stddev from the EXACT integer sums Σq and Σq² (q = q_int ∈ 0..5,
# so both sums are exact int64 well past any realistic group size):
#     stddev = sqrt((n·Σq² − (Σq)²) / (n·(n−1))) / 5
# Every double op below is performed in the identical order on both sides,
# so the result is bit-identical by construction.
# ---------------------------------------------------------------------------
def _stddev_quality() -> F.Column:
    n = F.count(F.lit(1))
    nd = n.cast("double")
    sq = F.sum("q_int").cast("double")
    sq2 = F.sum(F.col("q_int") * F.col("q_int")).cast("double")
    var = (nd * sq2 - sq * sq) / (nd * (n - F.lit(1)).cast("double"))
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(F.lit(0.0), var)) / F.lit(5.0)
    )


_STDDEV_Q_SQL = (
    "CASE WHEN count(*) <= 1 THEN 0.0 ELSE "
    "sqrt(greatest(0.0, "
    "(CAST(count(*) AS DOUBLE) * CAST(sum(q_int * q_int) AS DOUBLE)"
    " - CAST(sum(q_int) AS DOUBLE) * CAST(sum(q_int) AS DOUBLE))"
    " / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE))"
    ")) / 5.0 END"
)


# ---------------------------------------------------------------------------
# A1 — 1-minute tumbling-window analytics (batch form of the streaming agg)
# ---------------------------------------------------------------------------
A1_ORACLE = (
    SENSOR_ORACLE_CTE
    + f"""
SELECT date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       count(DISTINCT sensor_id) AS unique_sensors,
       round(avg(quality_score), {_R}) AS avg_quality_score
FROM sensor_quality_checked
GROUP BY 1, 2, 3
"""
)


@register(
    "a1_windowed_analytics",
    oracle=A1_ORACLE,
    doc="A1: tumbling 1-min window × sensor_type aggregate",
)
def a1_windowed_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return a1_window_aggregate(quality_checked(spark, sf_dir), F.countDistinct)


def a1_window_aggregate(
    df: DataFrame, distinct: Callable[[str], F.Column]
) -> DataFrame:
    """A1's aggregate per 1-minute tumbling window × sensor_type over a
    quality-checked frame, batch or streaming. ``distinct`` maps an id
    column to its distinct count, because each caller needs a different
    one: ``countDistinct`` for the batch table, ``size(collect_set)`` for
    one micro-batch (one shuffle) and ``approx_count_distinct`` for a
    watermarked stream (exact distinct is unsupported there)."""
    return (
        df.groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            distinct("vehicle_id").alias("unique_vehicles"),
            distinct("sensor_id").alias("unique_sensors"),
            fround(avg_quality(), _R).alias("avg_quality_score"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sensor_type",
            "record_count",
            "unique_vehicles",
            "unique_sensors",
            "avg_quality_score",
        )
    )


# ---------------------------------------------------------------------------
# A2 — daily analytics (the flagship query; entry() runs this)
# ---------------------------------------------------------------------------
def _a2_oracle(period: str, alias: str) -> str:
    """A2's oracle per ``period`` (a SQL expression over ts) × sensor_type,
    the twin of :func:`_a2_aggregate`."""
    return (
        SENSOR_ORACLE_CTE
        + f"""
SELECT {period} AS {alias},
       sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       count(DISTINCT sensor_id) AS unique_sensors,
       min(ts) AS first_reading,
       max(ts) AS last_reading,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       round({_STDDEV_Q_SQL}, {_R}) AS stddev_quality_score
FROM sensor_quality_checked
GROUP BY 1, 2
"""
    )


A2_ORACLE = _a2_oracle("CAST(ts AS DATE)", "processing_date")


@register("a2_daily_analytics", oracle=A2_ORACLE, doc="A2: daily × sensor_type analytics")
def a2_daily_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _a2_aggregate(_with_date(quality_checked(spark, sf_dir)), "processing_date")


def _a2_aggregate(q: DataFrame, period: str) -> DataFrame:
    """A2's aggregate per ``period`` × sensor_type: the daily, weekly and
    monthly rollups differ only in the period column."""
    return q.groupBy(period, "sensor_type").agg(
        F.count("*").alias("record_count"),
        F.countDistinct("vehicle_id").alias("unique_vehicles"),
        F.countDistinct("sensor_id").alias("unique_sensors"),
        F.min("ts").alias("first_reading"),
        F.max("ts").alias("last_reading"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        fround(_stddev_quality(), _R).alias("stddev_quality_score"),
    )


# ---------------------------------------------------------------------------
# A3 — per-sensor-type conditional measurement aggregates
# ---------------------------------------------------------------------------
@register(
    "a3_sensor_type_measurements",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS processing_date,
       sensor_type,
       count(*) AS record_count,
       round(CAST(sum(CASE WHEN sensor_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             / count(CASE WHEN sensor_type = 'error' THEN value END), {_R}) AS avg_error_value,
       round(max(CASE WHEN sensor_type = 'error' THEN value END), {_R}) AS max_error_value,
       round(min(CASE WHEN sensor_type = 'error' THEN value END), {_R}) AS min_error_value,
       round(avg(CASE WHEN sensor_type = 'click' THEN k END), {_R}) AS avg_click_k,
       max(CASE WHEN sensor_type = 'click' THEN k END) AS max_click_k,
       round(CAST(sum(CASE WHEN sensor_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             / count(CASE WHEN sensor_type = 'purchase' THEN value END), {_R}) AS avg_purchase_value,
       round(max(CASE WHEN sensor_type = 'purchase' THEN value END), {_R}) AS max_purchase_value,
       round(avg(CASE WHEN sensor_type = 'view' THEN k END), {_R}) AS avg_view_k
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A3: conditional aggregates on type-specific measurements",
)
def a3_sensor_type_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _with_date(quality_checked(spark, sf_dir))

    def cond_agg(agg, stype: str, col: str):
        return agg(F.when(F.col("sensor_type") == stype, F.col(col)))

    def dec_avg(stype: str, col: str):
        cond = F.col("sensor_type") == stype
        return F.sum(
            F.when(cond, F.col(col).cast("decimal(12,2)"))
        ).cast("double") / F.count(F.when(cond, F.col(col)))

    return q.groupBy("processing_date", "sensor_type").agg(
        F.count("*").alias("record_count"),
        fround(dec_avg("error", "value"), _R).alias("avg_error_value"),
        fround(cond_agg(F.max, "error", "value"), _R).alias("max_error_value"),
        fround(cond_agg(F.min, "error", "value"), _R).alias("min_error_value"),
        fround(cond_agg(F.avg, "click", "k"), _R).alias("avg_click_k"),
        cond_agg(F.max, "click", "k").alias("max_click_k"),
        fround(dec_avg("purchase", "value"), _R).alias("avg_purchase_value"),
        fround(cond_agg(F.max, "purchase", "value"), _R).alias("max_purchase_value"),
        fround(cond_agg(F.avg, "view", "k"), _R).alias("avg_view_k"),
    )


# ---------------------------------------------------------------------------
# A4 — per-vehicle analytics with time coverage
# ---------------------------------------------------------------------------
@register(
    "a4_vehicle_analytics",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS processing_date,
       vehicle_id,
       count(*) AS total_readings,
       count(DISTINCT sensor_type) AS sensor_types_used,
       count(DISTINCT sensor_id) AS unique_sensors,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       min(ts) AS first_reading,
       max(ts) AS last_reading,
       round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 1000000.0, {_R})
         AS coverage_seconds
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A4: daily × vehicle analytics + coverage window",
)
def a4_vehicle_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _with_date(quality_checked(spark, sf_dir))
    return q.groupBy("processing_date", "vehicle_id").agg(
        F.count("*").alias("total_readings"),
        F.countDistinct("sensor_type").alias("sensor_types_used"),
        F.countDistinct("sensor_id").alias("unique_sensors"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        F.min("ts").alias("first_reading"),
        F.max("ts").alias("last_reading"),
        fround(
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 1000000.0, _R
        ).alias("coverage_seconds"),
    )


# ---------------------------------------------------------------------------
# A5 — quality histogram with banded conditional counts
# ---------------------------------------------------------------------------
@register(
    "a5_quality_histogram",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS processing_date,
       count(*) AS total_records,
       count(CASE WHEN quality_score >= 0.8 THEN 1 END) AS high_quality_count,
       count(CASE WHEN quality_score >= 0.6 AND quality_score < 0.8 THEN 1 END)
         AS medium_quality_count,
       count(CASE WHEN quality_score < 0.6 THEN 1 END) AS low_quality_count,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       round(min(quality_score), {_R}) AS min_quality_score,
       round(max(quality_score), {_R}) AS max_quality_score,
       round({_STDDEV_Q_SQL}, {_R}) AS stddev_quality_score,
       round(CAST(count(CASE WHEN quality_score >= 0.8 THEN 1 END) AS DOUBLE) * 100.0
             / CAST(count(*) AS DOUBLE), 2) AS quality_percentage
FROM sensor_quality_checked
GROUP BY 1
""",
    doc="A5: daily quality bands + 2-dp percentage",
)
def a5_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _with_date(quality_checked(spark, sf_dir))
    qs = F.col("quality_score")
    high = F.count(F.when(qs >= 0.8, 1))
    return q.groupBy("processing_date").agg(
        F.count("*").alias("total_records"),
        high.alias("high_quality_count"),
        F.count(F.when((qs >= 0.6) & (qs < 0.8), 1)).alias("medium_quality_count"),
        F.count(F.when(qs < 0.6, 1)).alias("low_quality_count"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        fround(F.min(qs), _R).alias("min_quality_score"),
        fround(F.max(qs), _R).alias("max_quality_score"),
        fround(_stddev_quality(), _R).alias("stddev_quality_score"),
        # DOUBLE, not the reference's DECIMAL(5,2): DuckDB's dataframe layer
        # materializes DECIMAL as float64 while Spark returns decimal.Decimal,
        # so the driver hash diverges on representation even when the values
        # are bit-identical. A 2-dp floor-rounded double is type-stable in
        # both engines and loses nothing at this scale.
        fround(
            high.cast("double") * F.lit(100.0) / F.count("*").cast("double"), 2
        ).alias("quality_percentage"),
    )


# ---------------------------------------------------------------------------
# A6 — anomaly analytics
# ---------------------------------------------------------------------------
@register(
    "a6_anomaly_analytics",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS processing_date,
       sensor_type,
       count(*) AS anomaly_count,
       round(avg(anomaly_score), {_R}) AS avg_anomaly_score,
       round(max(anomaly_score), {_R}) AS max_anomaly_score,
       count(DISTINCT vehicle_id) AS affected_vehicles,
       count(DISTINCT sensor_id) AS affected_sensors
FROM sensor_quality_checked
WHERE anomaly_score > 0
GROUP BY 1, 2
""",
    doc="A6: filter(anomaly) → daily × sensor_type aggregate",
)
def a6_anomaly_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _with_date(quality_checked(spark, sf_dir))
    return (
        q.filter(F.col("anomaly_score") > 0)
        .groupBy("processing_date", "sensor_type")
        .agg(
            F.count("*").alias("anomaly_count"),
            fround(F.avg("anomaly_score"), _R).alias("avg_anomaly_score"),
            fround(F.max("anomaly_score"), _R).alias("max_anomaly_score"),
            F.countDistinct("vehicle_id").alias("affected_vehicles"),
            F.countDistinct("sensor_id").alias("affected_sensors"),
        )
    )


# ---------------------------------------------------------------------------
# A7 — global summary report (no groupBy)
# ---------------------------------------------------------------------------
@register(
    "a7_summary_report",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT count(*) AS total_records,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       count(DISTINCT sensor_id) AS unique_sensors,
       count(DISTINCT sensor_type) AS unique_sensor_types,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       count(CASE WHEN anomaly_score > 0 THEN 1 END) AS anomaly_count
FROM sensor_quality_checked
""",
    doc="A7: whole-table summary aggregation",
)
def a7_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    return q.agg(
        F.count("*").alias("total_records"),
        F.countDistinct("vehicle_id").alias("unique_vehicles"),
        F.countDistinct("sensor_id").alias("unique_sensors"),
        F.countDistinct("sensor_type").alias("unique_sensor_types"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        F.count(F.when(F.col("anomaly_score") > 0, 1)).alias("anomaly_count"),
    )


# ---------------------------------------------------------------------------
# A8 — sensor-type report (groupBy + orderBy)
# ---------------------------------------------------------------------------
@register(
    "a8_sensor_type_report",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(value), {_R})
         AS avg_value
FROM sensor_quality_checked
GROUP BY sensor_type
ORDER BY record_count DESC, sensor_type
""",
    doc="A8: per-sensor-type report sorted by volume",
)
def a8_sensor_type_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    return (
        q.groupBy("sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            F.countDistinct("vehicle_id").alias("unique_vehicles"),
            fround(avg_quality(), _R).alias("avg_quality_score"),
            fround(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                / F.count("value"),
                _R,
            ).alias("avg_value"),
        )
        .orderBy(F.col("record_count").desc(), F.col("sensor_type"))
    )


# ---------------------------------------------------------------------------
# A9 — vehicle top-k (TakeOrderedAndProject)
# ---------------------------------------------------------------------------
@register(
    "a9_vehicle_topk",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT vehicle_id,
       count(*) AS total_readings,
       count(DISTINCT sensor_type) AS sensor_types_used,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3600000000.0, {_R})
         AS coverage_hours
FROM sensor_quality_checked
GROUP BY vehicle_id
ORDER BY total_readings DESC, vehicle_id
LIMIT 10
""",
    doc="A9: top-10 vehicles by reading volume (deterministic tiebreak)",
)
def a9_vehicle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    return (
        q.groupBy("vehicle_id")
        .agg(
            F.count("*").alias("total_readings"),
            F.countDistinct("sensor_type").alias("sensor_types_used"),
            fround(avg_quality(), _R).alias("avg_quality_score"),
            fround(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                / 3600000000.0,
                _R,
            ).alias("coverage_hours"),
        )
        .orderBy(F.col("total_readings").desc(), F.col("vehicle_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A15 / A16 — serving views
# ---------------------------------------------------------------------------
@register(
    "a15_daily_sensor_summary",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS date,
       sensor_type,
       count(*) AS total_records,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       count(DISTINCT sensor_id) AS unique_sensors,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       count(CASE WHEN anomaly_score > 0 THEN 1 END) AS anomaly_count
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A15: daily_sensor_summary view",
)
def a15_daily_sensor_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    return q.groupBy(
        F.to_date("ts").alias("date"), F.col("sensor_type")
    ).agg(
        F.count("*").alias("total_records"),
        F.countDistinct("vehicle_id").alias("unique_vehicles"),
        F.countDistinct("sensor_id").alias("unique_sensors"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        F.count(F.when(F.col("anomaly_score") > 0, 1)).alias("anomaly_count"),
    )


@register(
    "a16_vehicle_daily_summary",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS date,
       vehicle_id,
       count(*) AS total_readings,
       count(DISTINCT sensor_type) AS sensor_types_used,
       count(DISTINCT sensor_id) AS unique_sensors,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       min(ts) AS first_reading,
       max(ts) AS last_reading
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A16: vehicle_daily_summary view",
)
def a16_vehicle_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    return q.groupBy(
        F.to_date("ts").alias("date"), F.col("vehicle_id")
    ).agg(
        F.count("*").alias("total_readings"),
        F.countDistinct("sensor_type").alias("sensor_types_used"),
        F.countDistinct("sensor_id").alias("unique_sensors"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        F.min("ts").alias("first_reading"),
        F.max("ts").alias("last_reading"),
    )


# ---------------------------------------------------------------------------
# Scale twins — approx distinct (HLL) variants of A1/A2, the form to run at
# 100 TB where exact countDistinct would carry per-group distinct sets
# through the shuffle.
#
# Checkable contract (the HLL values themselves have no SQL oracle — DuckDB
# uses a different sketch): each twin emits the EXACT distinct counts plus
# boolean flags asserting the Spark HLL estimate is within 3·rsd relative
# error (+1 absolute slack for integer granularity at tiny cardinalities).
# The oracle computes the exact counts and literal TRUE flags, so an HLL
# estimate outside the bound flips a flag and fails the driver hash — the
# sketch accuracy claim is now externally verified, not asserted. Spark's
# HLL is deterministic for fixed input, so this is not flaky at a fixed SF.
# The pure-approx production form simply drops the exact columns.
# ---------------------------------------------------------------------------
_RSD = 0.01  # relative standard deviation for approx_count_distinct


def _hll_ok(approx: F.Column, exact: F.Column) -> F.Column:
    bound = F.greatest(F.lit(3 * _RSD) * exact.cast("double"), F.lit(1.0))
    return F.abs(approx.cast("double") - exact.cast("double")) <= bound


@register(
    "a2_daily_analytics_approx",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(ts AS DATE) AS processing_date,
       sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       count(DISTINCT sensor_id) AS unique_sensors,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       TRUE AS vehicles_within_3rsd,
       TRUE AS sensors_within_3rsd
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A2 scale twin: HLL approx_count_distinct, error-bounded vs exact",
)
def a2_daily_analytics_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _with_date(quality_checked(spark, sf_dir))
    av = F.approx_count_distinct("vehicle_id", _RSD)
    asn = F.approx_count_distinct("sensor_id", _RSD)
    ev = F.countDistinct("vehicle_id")
    es = F.countDistinct("sensor_id")
    return q.groupBy("processing_date", "sensor_type").agg(
        F.count("*").alias("record_count"),
        ev.alias("unique_vehicles"),
        es.alias("unique_sensors"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        _hll_ok(av, ev).alias("vehicles_within_3rsd"),
        _hll_ok(asn, es).alias("sensors_within_3rsd"),
    )


@register(
    "a1_windowed_analytics_approx",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT date_trunc('minute', ts) AS window_start,
       sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       TRUE AS vehicles_within_3rsd
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A1 scale twin: HLL approx distinct per window, error-bounded",
)
def a1_windowed_analytics_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    av = F.approx_count_distinct("vehicle_id", _RSD)
    ev = F.countDistinct("vehicle_id")
    return (
        q.groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            ev.alias("unique_vehicles"),
            _hll_ok(av, ev).alias("vehicles_within_3rsd"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "sensor_type",
            "record_count",
            "unique_vehicles",
            "vehicles_within_3rsd",
        )
    )


# a4_vehicle_analytics_approx and a7_summary_report_approx are not
# registered: they would be HLL/sketch twins of the registered exact
# queries a4_vehicle_analytics / a7_summary_report, wrapper-only — the
# approx-distinct-within-band capability (_RSD + _hll_ok) stays
# registered via a1_windowed_analytics_approx /
# a2_daily_analytics_approx, the identical pattern over the same view.


# ---------------------------------------------------------------------------
# A2 weekly / monthly rollups — reference SensorDataAnalytics.scala:83-88
# selects daily/weekly/monthly aggregation layouts; the daily form is A2.
# ISO week via date_trunc('week') (Monday start in both engines); month via
# date_trunc('month'). Same partial-agg/shuffle shape as A2 with ~7× / ~30×
# fewer groups — strictly cheaper at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "a2_weekly_analytics",
    oracle=_a2_oracle("CAST(date_trunc('week', ts) AS DATE)", "week_start"),
    doc="A2 weekly rollup (SensorDataAnalytics.scala:83-88 'weekly')",
)
def a2_weekly_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir).withColumn(
        "week_start", F.date_trunc("week", F.col("ts")).cast("date")
    )
    return _a2_aggregate(q, "week_start")


@register(
    "a2_monthly_analytics",
    oracle=_a2_oracle("CAST(date_trunc('month', ts) AS DATE)", "month_start"),
    doc="A2 monthly rollup (SensorDataAnalytics.scala:83-88 'monthly')",
)
def a2_monthly_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir).withColumn(
        "month_start", F.trunc(F.col("ts").cast("date"), "month")
    )
    return _a2_aggregate(q, "month_start")


# ---------------------------------------------------------------------------
# A19 — time-series resampling + forward fill: project the newest day of
# readings onto a REGULAR 1-minute grid per sensor_type, filling silent
# minutes with the last observed per-type average. The reference's
# windowed analytics (A1) emit rows only for minutes that HAVE data —
# downstream dashboards and models need the regular grid with explicit
# gap semantics (the classic IoT resample).
#
# Scale shape: the grid is |types| × 1440 rows — metadata-sized at any
# corpus — so the left join is a broadcast of the grid against the
# already-aggregated per-minute rollup (not raw readings). The forward
# fill is one window per sensor_type over GRID rows (1440 each), never
# over readings. Bucket averages use exact DECIMAL sums (order-
# independent, adv1's pattern) so the fill values are hash-stable.
# ---------------------------------------------------------------------------
@register(
    "a19_resample_ffill",
    oracle=SENSOR_ORACLE_CTE
    + f"""
, anchor AS (SELECT date_trunc('day', max(ts)) AS d0 FROM sensor_quality_checked),
types AS (SELECT DISTINCT sensor_type FROM sensor_quality_checked),
grid AS (
  SELECT sensor_type,
         unnest(generate_series(d0, d0 + INTERVAL 1439 MINUTE,
                                INTERVAL 1 MINUTE)) AS bucket_ts
  FROM types, anchor
),
b AS (
  SELECT sensor_type, date_trunc('minute', ts) AS bucket_ts,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*),
               {_R}) AS avg_v
  FROM sensor_quality_checked, anchor
  WHERE ts >= d0
  GROUP BY 1, 2
),
j AS (
  SELECT g.sensor_type, g.bucket_ts,
         coalesce(b.n, 0) AS n_readings, b.avg_v
  FROM grid g LEFT JOIN b USING (sensor_type, bucket_ts)
)
SELECT sensor_type, bucket_ts, n_readings,
       last_value(avg_v IGNORE NULLS) OVER (
         PARTITION BY sensor_type ORDER BY bucket_ts
         ROWS UNBOUNDED PRECEDING) AS value_ffill,
       n_readings = 0 AS filled
FROM j
""",
    doc="A19: 1-min regular-grid resample of the newest day, forward-filled",
)
def a19_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    q = quality_checked(spark, sf_dir)
    anchor = q.agg(F.date_trunc("day", F.max("ts")).alias("d0"))
    types = q.select("sensor_type").distinct()
    grid = types.join(F.broadcast(anchor)).select(
        "sensor_type",
        F.explode(
            F.sequence(
                F.col("d0"),
                F.col("d0") + F.expr("INTERVAL 1439 MINUTES"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("bucket_ts"),
    )
    b = (
        q.join(F.broadcast(anchor))
        .filter(F.col("ts") >= F.col("d0"))
        .groupBy(
            "sensor_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(
            F.count("*").alias("n"),
            fround(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                / F.count("*"),
                _R,
            ).alias("avg_v"),
        )
    )
    j = grid.join(b, ["sensor_type", "bucket_ts"], "left").select(
        "sensor_type",
        "bucket_ts",
        F.coalesce("n", F.lit(0)).alias("n_readings"),
        "avg_v",
    )
    w = (
        Window.partitionBy("sensor_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "sensor_type",
        "bucket_ts",
        "n_readings",
        F.last("avg_v", ignorenulls=True).over(w).alias("value_ffill"),
        (F.col("n_readings") == 0).alias("filled"),
    )


# ---------------------------------------------------------------------------
# A20 — seasonality profile: the hour-of-day × day-of-week load matrix
# (readings, active vehicles, quality) that capacity planning and
# anomaly-baseline models consume. One map-side-combined aggregate over
# 7×24 groups at any corpus size; quality rides the exact integer sums.
# ---------------------------------------------------------------------------
@register(
    "a20_seasonality_profile",
    oracle=SENSOR_ORACLE_CTE
    + f"""
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hod,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS active_vehicles,
       round(avg(quality_score), {_R}) AS avg_quality_score,
       count(CASE WHEN anomaly_score > 0 THEN 1 END) AS anomaly_count
FROM sensor_quality_checked
GROUP BY 1, 2
""",
    doc="A20: hour-of-day × day-of-week seasonality profile",
)
def a20_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_checked(spark, sf_dir)
    # day-of-week conventions differ: Spark dayofweek is 1=Sunday..7,
    # DuckDB's is 0=Sunday..6 — the oracle shifts +1 to match Spark
    return q.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count("*").alias("record_count"),
        F.countDistinct("vehicle_id").alias("active_vehicles"),
        fround(avg_quality(), _R).alias("avg_quality_score"),
        F.count(F.when(F.col("anomaly_score") > 0, 1)).alias("anomaly_count"),
    )
