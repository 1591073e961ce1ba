"""Monitoring aggregations + alert evaluation — SURVEY.md §2.3 A10-A14.

The reference (src/monitoring/alerting.py:55-308) runs five SQL aggregations
over sliding wall-clock windows (`NOW() - INTERVAL ...`) every 300 s and
fans out alerts. Wall-clock `NOW()` is nondeterministic, so per SURVEY
§7.4.5 the anchor is injectable and defaults to ``max(ts)`` of the dataset —
both the Spark form and the DuckDB oracle compute the same anchor, making
every monitoring query hash-comparable.

The alert fan-out (Slack/SMTP in the reference) becomes a DataFrame of alert
rows (m15) — thresholds from BASELINE.md; sinks are out of scope for the
query surface (an `alerts` table append covers reference S12).

Scale notes: each check is filter + global aggregate over a short recent
window. At 100 TB the win comes from partition pruning: data written
partitioned by date/hour means `ts >= now - 1h` scans only the newest
partitions. These queries express the predicate on `ts` directly so
Catalyst prunes when the layout provides it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.rounding import fround
from ..registry import register
from ..sources.sensor_view import SENSOR_ORACLE_CTE, avg_quality, quality_checked

_R = 6

# Thresholds — BASELINE.md / reference alerting.py:55-64.
THRESHOLDS = {
    "min_quality_score": 0.8,
    "max_low_quality_rate": 0.10,
    "max_latency_seconds": 30.0,
    "min_throughput_per_min": 1000,
    "max_anomaly_rate": 0.05,
}

# DuckDB CTE computing the anchor ("now" = max ts over the dataset).
_NOW_CTE = ", anchor AS (SELECT max(ts) AS now FROM sensor_quality_checked)"


def _trailing(spark: SparkSession, sf_dir: str, interval: str) -> DataFrame:
    """The quality-checked rows of the trailing ``interval`` (e.g.
    ``"1 HOUR"``) up to the anchor, with the anchor as column ``now``. The
    anchor is ``max(ts)``, one row, joined by broadcast (the sanctioned
    fixed-cardinality hint); the predicate stays on ``ts``, so a
    date-partitioned layout prunes."""
    q = quality_checked(spark, sf_dir)
    now = q.agg(F.max("ts").alias("now"))
    return q.crossJoin(F.broadcast(now)).filter(
        F.col("ts") >= F.col("now") - F.expr(f"INTERVAL {interval}")
    )


# ---------------------------------------------------------------------------
# A10 — hourly data-quality check
# ---------------------------------------------------------------------------
@register(
    "m10_hourly_quality",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
SELECT CASE WHEN count(*) > 0
            THEN round(avg(quality_score), {_R}) END AS avg_quality,
       count(*) AS total_records,
       count(CASE WHEN quality_score < 0.6 THEN 1 END) AS low_quality_count,
       CASE WHEN count(*) > 0
            THEN round(CAST(count(CASE WHEN quality_score < 0.6 THEN 1 END)
                            AS DOUBLE) / count(*), {_R})
       END AS low_quality_rate
FROM sensor_quality_checked, anchor
WHERE ts >= anchor.now - INTERVAL 1 HOUR
""",
    doc="A10: quality stats over the trailing hour (anchor = max(ts))",
)
def m10_hourly_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    low = F.count(F.when(F.col("quality_score") < 0.6, 1))
    n = F.count(F.lit(1))
    # guarded: an empty trailing window has count 0, and ANSI-mode
    # Spark 4 (this repo's default) raises DIVIDE_BY_ZERO instead of
    # returning NULL — both ratios are unknowable there, so emit NULL
    # explicitly on both engines (m18's template)
    return (
        _trailing(spark, sf_dir, "1 HOUR")
        .agg(
            F.when(n > 0, fround(avg_quality(), _R)).alias("avg_quality"),
            F.count("*").alias("total_records"),
            low.alias("low_quality_count"),
            F.when(n > 0, fround(low * 1.0 / n, _R)).alias(
                "low_quality_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A11 — liveness (any data in last 5 minutes?)
# ---------------------------------------------------------------------------
@register(
    "m11_liveness",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + """
SELECT count(*) AS recent_records,
       count(*) > 0 AS is_alive
FROM sensor_quality_checked, anchor
WHERE ts >= anchor.now - INTERVAL 5 MINUTE
""",
    doc="A11: liveness count over trailing 5 minutes",
)
def m11_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _trailing(spark, sf_dir, "5 MINUTES")
        .agg(
            F.count("*").alias("recent_records"),
            (F.count("*") > 0).alias("is_alive"),
        )
    )


# ---------------------------------------------------------------------------
# A12 — processing latency
# ---------------------------------------------------------------------------
@register(
    "m12_latency",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
SELECT round(avg(CAST(epoch_us(processing_timestamp) - epoch_us(ts) AS DOUBLE) / 1000000.0),
             {_R}) AS avg_latency_seconds,
       round(max(CAST(epoch_us(processing_timestamp) - epoch_us(ts) AS DOUBLE) / 1000000.0),
             {_R}) AS max_latency_seconds
FROM sensor_quality_checked, anchor
WHERE ts >= anchor.now - INTERVAL 1 HOUR
""",
    doc="A12: event→processed latency over trailing hour",
)
def m12_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat = (
        F.unix_micros("processing_timestamp") - F.unix_micros("ts")
    ) / 1000000.0
    return (
        _trailing(spark, sf_dir, "1 HOUR")
        .agg(
            fround(F.avg(lat), _R).alias("avg_latency_seconds"),
            fround(F.max(lat), _R).alias("max_latency_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# A13 — throughput (records in last minute)
# ---------------------------------------------------------------------------
@register(
    "m13_throughput",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
SELECT count(*) AS records_last_minute,
       count(*) >= {THRESHOLDS["min_throughput_per_min"]} AS meets_threshold
FROM sensor_quality_checked, anchor
WHERE ts >= anchor.now - INTERVAL 1 MINUTE
""",
    doc="A13: trailing-minute ingest throughput vs threshold",
)
def m13_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _trailing(spark, sf_dir, "1 MINUTE")
        .agg(
            F.count("*").alias("records_last_minute"),
            (F.count("*") >= THRESHOLDS["min_throughput_per_min"]).alias(
                "meets_threshold"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A14 — anomaly rate
# ---------------------------------------------------------------------------
@register(
    "m14_anomaly_rate",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
SELECT count(*) AS total_records,
       count(CASE WHEN anomaly_score > 0 THEN 1 END) AS anomaly_count,
       CASE WHEN count(*) > 0
            THEN round(CAST(count(CASE WHEN anomaly_score > 0 THEN 1 END)
                            AS DOUBLE) / count(*), {_R})
       END AS anomaly_rate
FROM sensor_quality_checked, anchor
WHERE ts >= anchor.now - INTERVAL 1 HOUR
""",
    doc="A14: trailing-hour anomaly rate",
)
def m14_anomaly_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    anom = F.count(F.when(F.col("anomaly_score") > 0, 1))
    n = F.count(F.lit(1))
    # empty-window rate guarded → NULL, never DIVIDE_BY_ZERO (see m10)
    return (
        _trailing(spark, sf_dir, "1 HOUR")
        .agg(
            F.count("*").alias("total_records"),
            anom.alias("anomaly_count"),
            F.when(n > 0, fround(anom * 1.0 / n, _R)).alias("anomaly_rate"),
        )
    )


# ---------------------------------------------------------------------------
# A10-A14 combined → alert rows (reference run_monitoring_cycle + fan-out)
# ---------------------------------------------------------------------------
_T = THRESHOLDS


@register(
    "m15_alerts",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
, win AS (
  SELECT s.* FROM sensor_quality_checked s, anchor
  WHERE s.ts >= anchor.now - INTERVAL 1 HOUR
)
SELECT 'low_avg_quality' AS alert_type,
       round(avg(quality_score), {_R}) AS metric_value,
       CAST({_T["min_quality_score"]} AS DOUBLE) AS threshold,
       'WARNING' AS severity
FROM win HAVING avg(quality_score) < {_T["min_quality_score"]}
UNION ALL
SELECT 'high_low_quality_rate',
       CASE WHEN count(*) > 0
            THEN round(CAST(count(CASE WHEN quality_score < 0.6 THEN 1 END)
                            AS DOUBLE) / count(*), {_R}) END,
       CAST({_T["max_low_quality_rate"]} AS DOUBLE), 'WARNING'
FROM win
HAVING (CASE WHEN count(*) > 0
             THEN CAST(count(CASE WHEN quality_score < 0.6 THEN 1 END)
                       AS DOUBLE) / count(*) END)
       > {_T["max_low_quality_rate"]}
UNION ALL
SELECT 'high_latency',
       round(avg(CAST(epoch_us(processing_timestamp) - epoch_us(ts) AS DOUBLE) / 1000000.0), {_R}),
       CAST({_T["max_latency_seconds"]} AS DOUBLE), 'CRITICAL'
FROM win
HAVING avg(CAST(epoch_us(processing_timestamp) - epoch_us(ts) AS DOUBLE) / 1000000.0)
       > {_T["max_latency_seconds"]}
UNION ALL
SELECT 'low_throughput',
       CAST(count(CASE WHEN ts >= (SELECT now FROM anchor) - INTERVAL 1 MINUTE
                       THEN 1 END) AS DOUBLE),
       CAST({_T["min_throughput_per_min"]} AS DOUBLE), 'WARNING'
FROM win
HAVING count(CASE WHEN ts >= (SELECT now FROM anchor) - INTERVAL 1 MINUTE
             THEN 1 END) < {_T["min_throughput_per_min"]}
UNION ALL
SELECT 'high_anomaly_rate',
       CASE WHEN count(*) > 0
            THEN round(CAST(count(CASE WHEN anomaly_score > 0 THEN 1 END)
                            AS DOUBLE) / count(*), {_R}) END,
       CAST({_T["max_anomaly_rate"]} AS DOUBLE), 'CRITICAL'
FROM win
HAVING (CASE WHEN count(*) > 0
             THEN CAST(count(CASE WHEN anomaly_score > 0 THEN 1 END)
                       AS DOUBLE) / count(*) END)
       > {_T["max_anomaly_rate"]}
""",
    doc="A10-A14 → threshold checks emitting alert rows (union of checks)",
)
def m15_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass form: ONE aggregation over the trailing-hour window
    computes every metric, then the five threshold checks are built by
    exploding an array of (alert_type, metric, threshold, severity,
    violated) structs from that one row — the window is scanned once,
    not once per check (the reference ran five separate SQL queries per
    monitoring cycle, alerting.py:77-106)."""
    win = _trailing(spark, sf_dir, "1 HOUR")
    qs = F.col("quality_score")
    lat = (F.unix_micros("processing_timestamp") - F.unix_micros("ts")) / 1000000.0
    n = F.count(F.lit(1))
    # rate/avg metrics guarded for the empty window (ANSI DIVIDE_BY_ZERO
    # — m18's template): NULL metric → NULL `violated` → the check is
    # silently not firing, exactly the oracle's HAVING-over-NULL shape;
    # low_throughput still fires on an empty window (0 < threshold)
    metrics = win.agg(
        F.when(n > 0, avg_quality()).alias("avg_quality"),
        F.when(
            n > 0, F.count(F.when(qs < 0.6, 1)).cast("double") / n
        ).alias("low_rate"),
        F.avg(lat).alias("avg_latency"),
        F.count(
            F.when(F.col("ts") >= F.col("now") - F.expr("INTERVAL 1 MINUTE"), 1)
        )
        .cast("double")
        .alias("last_min_count"),
        F.when(
            n > 0,
            F.count(F.when(F.col("anomaly_score") > 0, 1)).cast("double")
            / n,
        ).alias("anom_rate"),
    )

    def alert(name, metric, threshold, severity, violated):
        return F.struct(
            F.lit(name).alias("alert_type"),
            fround(metric, _R).alias("metric_value"),
            F.lit(float(threshold)).alias("threshold"),
            F.lit(severity).alias("severity"),
            violated.alias("_violated"),
        )

    checks = F.array(
        alert(
            "low_avg_quality",
            F.col("avg_quality"),
            _T["min_quality_score"],
            "WARNING",
            F.col("avg_quality") < _T["min_quality_score"],
        ),
        alert(
            "high_low_quality_rate",
            F.col("low_rate"),
            _T["max_low_quality_rate"],
            "WARNING",
            F.col("low_rate") > _T["max_low_quality_rate"],
        ),
        alert(
            "high_latency",
            F.col("avg_latency"),
            _T["max_latency_seconds"],
            "CRITICAL",
            F.col("avg_latency") > _T["max_latency_seconds"],
        ),
        alert(
            "low_throughput",
            F.col("last_min_count"),
            float(_T["min_throughput_per_min"]),
            "WARNING",
            F.col("last_min_count") < _T["min_throughput_per_min"],
        ),
        alert(
            "high_anomaly_rate",
            F.col("anom_rate"),
            _T["max_anomaly_rate"],
            "CRITICAL",
            F.col("anom_rate") > _T["max_anomaly_rate"],
        ),
    )
    return (
        metrics.select(F.explode(checks).alias("a"))
        .filter(F.col("a._violated"))
        .select("a.alert_type", "a.metric_value", "a.threshold", "a.severity")
    )


# ---------------------------------------------------------------------------
# A17/m16 — multi-window anomaly burn rate (the SRE alerting pattern: a
# short-window rate is compared against the long-window baseline, and an
# alert fires only when the short window burns HOTTER than the baseline
# by a factor — robust to both slow drifts and brief blips in a way
# single-window thresholds are not). Windows here are 1-day short /
# 7-day long off the deterministic max(ts) anchor (day-scale so the
# sf0.001 smoke corpus still populates both windows for every type).
#
# Scale shape: ONE scan with the long-window predicate pushed to the
# scan and the short window folded into conditional aggregates — no
# second pass, no join; the 1-row anchor broadcasts (sanctioned
# fixed-cardinality hint, same as m10-m15).
# ---------------------------------------------------------------------------
_M16_FACTOR = 2.0  # short-window rate must exceed factor x baseline


@register(
    "m16_burn_rate",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f"""
, agg AS (
  SELECT sensor_type,
         count(*) AS long_total,
         count(CASE WHEN anomaly_score > 0 THEN 1 END) AS long_anomalies,
         count(CASE WHEN ts >= anchor.now - INTERVAL 1 DAY THEN 1 END)
           AS short_total,
         count(CASE WHEN ts >= anchor.now - INTERVAL 1 DAY
                     AND anomaly_score > 0 THEN 1 END) AS short_anomalies
  FROM sensor_quality_checked, anchor
  WHERE ts >= anchor.now - INTERVAL 7 DAY
  GROUP BY sensor_type
)
SELECT sensor_type, long_total, long_anomalies, short_total, short_anomalies,
       round(CAST(long_anomalies AS DOUBLE) / long_total, {_R}) AS long_rate,
       round(CAST(short_anomalies AS DOUBLE) / short_total, {_R}) AS short_rate,
       round((CAST(short_anomalies AS DOUBLE) / short_total)
             / (CAST(long_anomalies AS DOUBLE) / long_total), {_R})
         AS burn_ratio,
       ((CAST(short_anomalies AS DOUBLE) / short_total)
        > {_M16_FACTOR} * (CAST(long_anomalies AS DOUBLE) / long_total))
         AS burning
FROM agg
WHERE short_total > 0 AND long_anomalies > 0
""",
    doc="A17: multi-window (1d/7d) anomaly burn-rate alerting per sensor type",
)
def m16_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    in_short = F.col("ts") >= F.col("now") - F.expr("INTERVAL 1 DAY")
    anom = F.col("anomaly_score") > 0
    agg = (
        _trailing(spark, sf_dir, "7 DAY")
        .groupBy("sensor_type")
        .agg(
            F.count("*").alias("long_total"),
            F.count(F.when(anom, 1)).alias("long_anomalies"),
            F.count(F.when(in_short, 1)).alias("short_total"),
            F.count(F.when(in_short & anom, 1)).alias("short_anomalies"),
        )
    )
    long_rate = F.col("long_anomalies").cast("double") / F.col("long_total")
    short_rate = F.col("short_anomalies").cast("double") / F.col("short_total")
    return agg.filter(
        (F.col("short_total") > 0) & (F.col("long_anomalies") > 0)
    ).select(
        "sensor_type",
        "long_total",
        "long_anomalies",
        "short_total",
        "short_anomalies",
        fround(long_rate, _R).alias("long_rate"),
        fround(short_rate, _R).alias("short_rate"),
        fround(short_rate / long_rate, _R).alias("burn_ratio"),
        (short_rate > _M16_FACTOR * long_rate).alias("burning"),
    )


# ---------------------------------------------------------------------------
# M17 — alert-incident grouping (cooldown suppression). The reference
# fires an alert per monitoring cycle with no dedup (alerting.py:77-106
# re-sends every 300 s while a condition holds) — at fleet scale that is
# an alert storm. m17 collapses per-(vehicle, sensor_type) anomaly
# readings into INCIDENTS: consecutive anomalies within the cooldown gap
# are one incident (first alert fires, the rest are suppressed). This is
# adv1's gap-sessionization shape applied to the alert stream — one
# window shuffle keyed on (vehicle_id, sensor_type); the anomaly filter
# cuts the input to the alert-rate fraction before anything shuffles, so
# the window input at 100 TB is |anomalies|, not |readings|.
# ---------------------------------------------------------------------------
_M17_GAP_MIN = 60


@register(
    "m17_alert_incidents",
    oracle=SENSOR_ORACLE_CTE
    + f"""
, a AS (
  SELECT vehicle_id, sensor_type, ts, anomaly_score
  FROM sensor_quality_checked WHERE anomaly_score > 0
),
x AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL {_M17_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM a
  WINDOW w AS (PARTITION BY vehicle_id, sensor_type ORDER BY ts)
),
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY vehicle_id, sensor_type
    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS incident_id
  FROM x
)
SELECT vehicle_id, sensor_type, incident_id,
       min(ts) AS incident_start,
       max(ts) AS incident_end,
       count(*) AS n_alerts,
       count(*) - 1 AS n_suppressed,
       round(max(anomaly_score), {_R}) AS max_anomaly_score
FROM s
GROUP BY vehicle_id, sensor_type, incident_id
""",
    doc="M17: cooldown suppression — anomaly alerts grouped into incidents",
)
def m17_alert_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    a = quality_checked(spark, sf_dir).filter(F.col("anomaly_score") > 0)
    w = Window.partitionBy("vehicle_id", "sensor_type").orderBy("ts")
    # compare full-precision timestamps, exactly as the oracle's
    # `ts - lag(ts) > INTERVAL 60 MINUTE` does — cast('long') truncates
    # sub-second fractions and a 3600.5 s gap would split here but not
    # there, a latent cross-engine hash mismatch on fractional data
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr(f"INTERVAL {_M17_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    s = a.withColumn("is_new", is_new).withColumn(
        "incident_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("vehicle_id", "sensor_type", "incident_id").agg(
        F.min("ts").alias("incident_start"),
        F.max("ts").alias("incident_end"),
        F.count("*").alias("n_alerts"),
        (F.count("*") - 1).alias("n_suppressed"),
        fround(F.max("anomaly_score"), _R).alias("max_anomaly_score"),
    )


# ---------------------------------------------------------------------------
# M18 — METRICS EXPORT + PROMETHEUS EXPOSITION: the reference serves its
# health counters as a Prometheus /metrics endpoint
# (src/api/sensor_api.py:19-28,404-407, prometheus_client Counter/
# Histogram → text exposition). The HTTP transport is sandbox-waived
# like Kafka (SCALE.md); what IS rebuilt and tested is the semantic
# layer: m18 computes the full monitoring scrape as ONE relational
# surface (metric name → float64 sample, exactly what a Prometheus
# gauge scrape carries), and render_prometheus serializes any such
# frame into the text exposition format (# HELP/# TYPE/name value).
#
# Exactness: every sample rides the already-oracled m11–m14 arithmetic
# (injectable anchor, fround where derived); booleans export as 0/1
# gauges (the up-metric convention). An empty trailing window exports
# NULL for avg/max latency (unknowable, not 0) — the renderer SKIPS
# NULL samples because Prometheus has no missing-value literal; the
# compared relational surface keeps them (NULL on both engines).
#
# Plan shape at 100 TB: the 1-minute and 5-minute windows NEST inside
# the hour, so every metric rides ONE trailing-hour scan (partition-
# pruned by the date layout, m10–m14's design) with conditional
# sub-window counts — m15's single-pass discipline — plus the one
# injectable-by-design anchor aggregate; the explode(map) fan-out to
# (metric, value) rows is metadata-sized. The renderer collects a
# |metrics|-row frame — bounded by construction (st14's
# bounded-collect discipline).
# ---------------------------------------------------------------------------
_M18 = {
    "recent_records_5m": "Records ingested in the trailing 5 minutes",
    "up": "1 if any record arrived in the trailing 5 minutes",
    "latency_seconds_avg_1h": "Mean event-to-processed latency, trailing hour",
    "latency_seconds_max_1h": "Max event-to-processed latency, trailing hour",
    "records_last_minute": "Records ingested in the trailing minute",
    "throughput_ok": "1 if trailing-minute ingest meets the threshold",
    "records_1h": "Records ingested in the trailing hour",
    "anomaly_count_1h": "Anomalous records in the trailing hour",
    "anomaly_rate_1h": "Anomalous fraction of trailing-hour records",
}


@register(
    "m18_metrics_export",
    oracle=SENSOR_ORACLE_CTE
    + _NOW_CTE
    + f""",
w AS (
  SELECT CAST(count(*) AS BIGINT) AS c1h,
         CAST(count(CASE WHEN ts >= anchor.now - INTERVAL 5 MINUTE
                    THEN 1 END) AS BIGINT) AS c5m,
         CAST(count(CASE WHEN ts >= anchor.now - INTERVAL 1 MINUTE
                    THEN 1 END) AS BIGINT) AS c1m,
         CAST(count(CASE WHEN anomaly_score > 0 THEN 1 END) AS BIGINT) AS a,
         round(avg(CAST(epoch_us(processing_timestamp) - epoch_us(ts)
                        AS DOUBLE) / 1000000.0), {_R}) AS lat_avg,
         round(max(CAST(epoch_us(processing_timestamp) - epoch_us(ts)
                        AS DOUBLE) / 1000000.0), {_R}) AS lat_max
  FROM sensor_quality_checked, anchor
  WHERE ts >= anchor.now - INTERVAL 1 HOUR
)
SELECT 'iot_recent_records_5m' AS metric, CAST(c5m AS DOUBLE) AS value FROM w
UNION ALL
SELECT 'iot_up', CASE WHEN c5m > 0 THEN 1.0 ELSE 0.0 END FROM w
UNION ALL
SELECT 'iot_latency_seconds_avg_1h', lat_avg FROM w
UNION ALL
SELECT 'iot_latency_seconds_max_1h', lat_max FROM w
UNION ALL
SELECT 'iot_records_last_minute', CAST(c1m AS DOUBLE) FROM w
UNION ALL
SELECT 'iot_throughput_ok',
       CASE WHEN c1m >= {THRESHOLDS["min_throughput_per_min"]}
            THEN 1.0 ELSE 0.0 END FROM w
UNION ALL
SELECT 'iot_records_1h', CAST(c1h AS DOUBLE) FROM w
UNION ALL
SELECT 'iot_anomaly_count_1h', CAST(a AS DOUBLE) FROM w
UNION ALL
SELECT 'iot_anomaly_rate_1h',
       CASE WHEN c1h > 0 THEN round(CAST(a AS DOUBLE) / c1h, {_R}) END FROM w
""",
    doc=(
        "M18: the full monitoring scrape as (metric, float64) rows — "
        "m11-m14's arithmetic in ONE single-pass window scan, pivoted "
        "to the Prometheus gauge surface"
    ),
)
def m18_metrics_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    # m15's single-pass discipline: the 1-minute and 5-minute windows
    # NEST inside the hour, so every metric rides ONE trailing-hour scan
    # with conditional sub-window counts — the plan carries exactly one
    # window scan plus the one (unprunable, injectable-by-design) anchor
    # aggregate, instead of a scan+anchor pair per union branch
    in5m = F.col("ts") >= F.col("now") - F.expr("INTERVAL 5 MINUTES")
    in1m = F.col("ts") >= F.col("now") - F.expr("INTERVAL 1 MINUTE")
    lat = (
        F.unix_micros("processing_timestamp") - F.unix_micros("ts")
    ) / 1000000.0
    w = (
        _trailing(spark, sf_dir, "1 HOUR")
        .agg(
            F.count("*").cast("bigint").alias("c1h"),
            F.count(F.when(in5m, 1)).cast("bigint").alias("c5m"),
            F.count(F.when(in1m, 1)).cast("bigint").alias("c1m"),
            F.count(F.when(F.col("anomaly_score") > 0, 1))
            .cast("bigint")
            .alias("a"),
            fround(F.avg(lat), _R).alias("lat_avg"),
            fround(F.max(lat), _R).alias("lat_max"),
        )
    )
    one = F.lit(1.0)
    zero = F.lit(0.0)
    pairs: list[tuple[str, Column]] = [
        ("recent_records_5m", F.col("c5m")),
        ("up", F.when(F.col("c5m") > 0, one).otherwise(zero)),
        ("latency_seconds_avg_1h", F.col("lat_avg")),
        ("latency_seconds_max_1h", F.col("lat_max")),
        ("records_last_minute", F.col("c1m")),
        (
            "throughput_ok",
            F.when(
                F.col("c1m") >= THRESHOLDS["min_throughput_per_min"], one
            ).otherwise(zero),
        ),
        ("records_1h", F.col("c1h")),
        ("anomaly_count_1h", F.col("a")),
        (
            # guarded: an empty window has c1h = 0, and ANSI-mode Spark
            # (the 4.x default) raises DIVIDE_BY_ZERO instead of
            # returning NULL — the rate is unknowable there, so export
            # NULL explicitly on both engines
            "anomaly_rate_1h",
            F.when(
                F.col("c1h") > 0,
                fround(F.col("a") * 1.0 / F.col("c1h"), _R),
            ),
        ),
    ]
    args: list[Column] = []
    for name, expr in pairs:
        args += [F.lit(f"iot_{name}"), expr.cast("double")]
    return w.select(F.explode(F.create_map(*args)).alias("metric", "value"))


def render_prometheus(df: DataFrame, help_texts: dict | None = None) -> str:
    """Serialize a (metric, value) frame into the Prometheus text
    exposition format — the format layer of the reference's /metrics
    endpoint (src/api/sensor_api.py:404-407); the HTTP transport is
    sandbox-waived. All metrics render as gauges; NULL samples are
    SKIPPED (Prometheus has no missing-value literal); non-finite
    samples render as the exposition literals NaN/+Inf/-Inf (what
    prometheus_client emits — round-10 review finding #3); finite
    values use repr-style shortest float. The collect is |metrics|-row
    bounded by construction."""
    import math

    if help_texts is None:
        help_texts = {f"iot_{k}": v for k, v in _M18.items()}
    lines = []
    prev = None
    for r in sorted(df.collect(), key=lambda r: r.metric):
        if r.value is None:
            continue
        if r.metric != prev:
            # HELP/TYPE once per metric family — a repeated TYPE line is
            # invalid exposition the Prometheus parser rejects (rows are
            # sorted, so a prev-name check suffices; round-10 review #5b)
            h = help_texts.get(r.metric)
            if h:
                lines.append(f"# HELP {r.metric} {h}")
            lines.append(f"# TYPE {r.metric} gauge")
            prev = r.metric
        v = float(r.value)
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "+Inf" if v > 0 else "-Inf"
        elif v == int(v):
            s = str(int(v))
        else:
            s = repr(v)
        lines.append(f"{r.metric} {s}")
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# ALERT FAN-OUT FORMATTING — the payload layer of the reference's alert
# channels (src/monitoring/alerting.py:310-400): Slack attachment JSON
# (send_slack_alert :325-367), email subject/body (send_email_alert
# :369-395) and the channel-routing rule (send_alert :310-323 — Slack
# whenever configured, email ONLY for CRITICAL, store always). The
# HTTP/SMTP transports are sandbox-waived (SCALE.md, with Kafka); the
# payload shapes and the routing decision are rebuilt as pure,
# deterministic functions over alert rows (m15's schema) so the fan-out
# semantics are testable byte-for-byte. Timestamps are INJECTED (the
# engine's no-current_timestamp rule) — callers pass the epoch anchor.
# ---------------------------------------------------------------------------
_SLACK_COLORS = {
    "INFO": "#36a64f",
    "WARNING": "#ff9500",
    "CRITICAL": "#ff0000",
}
# unknown severities render with a neutral color instead of KeyError-ing
# the whole fan-out cycle (route_alert accepts any severity string, so
# the two functions must agree on the input domain — round-10 review #3b)
_SLACK_DEFAULT_COLOR = "#cccccc"


def format_slack_alert(
    alert_type: str,
    metric_value: float,
    threshold: float,
    severity: str,
    ts_iso: str,
    ts_epoch: int,
) -> dict:
    """The reference's Slack attachment payload
    (alerting.py:328-360), field for field, over an m15 alert row."""
    return {
        "attachments": [
            {
                "color": _SLACK_COLORS.get(severity, _SLACK_DEFAULT_COLOR),
                "title": alert_type,
                "text": (
                    f"{alert_type}: metric {metric_value} breached "
                    f"threshold {threshold}"
                ),
                "fields": [
                    {"title": "Type", "value": alert_type, "short": True},
                    {"title": "Severity", "value": severity, "short": True},
                    {"title": "Timestamp", "value": ts_iso, "short": True},
                ],
                "footer": "Sensor Data Pipeline",
                "ts": ts_epoch,
            }
        ]
    }


def format_email_alert(
    alert_type: str,
    metric_value: float,
    threshold: float,
    severity: str,
    ts_iso: str,
) -> tuple[str, str]:
    """The reference's email subject/body (alerting.py:369-390):
    '[SEVERITY] title' subject, plain-text detail body with the
    metadata JSON block."""
    import json as _json

    subject = f"[{severity}] {alert_type}"
    meta = _json.dumps(
        {"metric_value": metric_value, "threshold": threshold}, indent=2
    )
    body = (
        "Alert Details:\n\n"
        f"Title: {alert_type}\n"
        f"Description: {alert_type}: metric {metric_value} breached "
        f"threshold {threshold}\n"
        f"Severity: {severity}\n"
        f"Timestamp: {ts_iso}\n\n"
        f"Metadata:\n{meta}\n\n"
        "This is an automated alert from the Sensor Data Pipeline "
        "monitoring system.\n"
    )
    return subject, body


def route_alert(
    severity: str, slack_configured: bool, email_configured: bool
) -> list[str]:
    """The reference's channel-routing rule (alerting.py:310-323):
    Slack whenever a webhook is configured, email ONLY for CRITICAL
    alerts with SMTP credentials, and the database store always."""
    channels = []
    if slack_configured:
        channels.append("slack")
    if severity == "CRITICAL" and email_configured:
        channels.append("email")
    channels.append("store")
    return channels


def alert_payloads(
    alerts: DataFrame,
    ts_iso: str,
    ts_epoch: int,
    slack_configured: bool = True,
    email_configured: bool = True,
) -> list[dict]:
    """Fan out an m15-shaped alert frame into per-channel payloads —
    the driver-side last hop before a transport. The collect is
    |alerts|-row bounded (≤ 5 checks per cycle by construction)."""
    out = []
    for r in alerts.collect():
        entry = {
            "alert_type": r.alert_type,
            "channels": route_alert(
                r.severity, slack_configured, email_configured
            ),
            "slack": None,
            "email": None,
        }
        if "slack" in entry["channels"]:
            entry["slack"] = format_slack_alert(
                r.alert_type, r.metric_value, r.threshold, r.severity,
                ts_iso, ts_epoch,
            )
        if "email" in entry["channels"]:
            subject, body = format_email_alert(
                r.alert_type, r.metric_value, r.threshold, r.severity,
                ts_iso,
            )
            entry["email"] = {"subject": subject, "body": body}
        out.append(entry)
    return out
