"""The events → sensor-reading mapping (FIXTURES.md §5) + quality stage.

The driver's deterministic ``events`` table stands in for the reference's
sensor stream until a dedicated sensor fixture exists. The mapping is defined
TWICE, deliberately kept adjacent so they cannot drift:

- ``_READINGS_SELECT`` / ``_QUALITY_WHERE`` / ``_QUALITY_SELECT`` — the
  Spark SQL expression text that :func:`map_events` and
  :func:`apply_quality` run as one ``selectExpr`` for the mapping, then one
  ``where`` and one ``selectExpr`` for the quality stage (what the engine
  actually runs, batch and streaming alike). Building the view from SQL
  text costs a handful of driver calls, not one per ``Column`` node;
- :data:`SENSOR_ORACLE_CTE` — the equivalent DuckDB SQL CTE prefix used by
  every oracle query, written directly below the Spark text so the two
  can be diffed line by line.

Mapping (events column → sensor field):
    ts → ts,  printf('VH_%05d', user_id) → vehicle_id,
    event_type → sensor_type,  event_type || '_' || event_id%100 → sensor_id,
    value → scalar measurement,  props (JSON) → measurements.

Quality stage semantics (reference SensorDataProcessor.scala:141-186):
- completeness filter P1: ts/sensor_id/vehicle_id/sensor_type non-null;
- quality_score P2: completeness score normalized to [0,1] (SURVEY §7.4.2);
- anomaly_score P4: 3-branch when-chain keyed on sensor_type thresholds
  (reference: radar distance>200 / camera object_count>20 / gps speed>200;
  here mapped onto event_type/value thresholds so a deterministic subset of
  the testdata fires);
- processing_timestamp P3: made deterministic as ts + 5 s so the latency
  monitoring queries (alerting.py:212-218) return a nonzero, oracle-stable
  value (SURVEY §7.4.5: never current_timestamp() in oracle-compared output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .tables import load_table

# Anomaly thresholds, mirrored in Spark and SQL below. Chosen so ~2-5% of the
# deterministic events rows fire (value ~ Uniform-ish [0,200)).
_ANOMALY_RULES = [
    ("error", 150.0, 1.0),
    ("click", 180.0, 1.0),
    ("purchase", 190.0, 0.8),
]
_ANOMALY_DEFAULT_THRESHOLD = 195.0
_ANOMALY_DEFAULT_SCORE = 0.5


def map_events(e: DataFrame) -> DataFrame:
    """Map an events-shaped DataFrame (batch OR streaming) onto the
    canonical sensor-reading shape."""
    return e.selectExpr(*_READINGS_SELECT)


def sensor_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events mapped onto the canonical sensor-reading shape (pre-quality)."""
    return map_events(load_table(spark, sf_dir, "events"))


def apply_quality(s: DataFrame) -> DataFrame:
    """P1+P2+P3+P4 applied to a sensor-reading DataFrame (batch OR
    streaming) — the analog of table ``sensor_quality_checked``
    (reference docker/init-db.sql:5-18)."""
    return s.where(_QUALITY_WHERE).selectExpr(*_QUALITY_SELECT)


def quality_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch convenience: events table → sensor mapping → quality stage."""
    return apply_quality(sensor_readings(spark, sf_dir))


# ---------------------------------------------------------------------------
# Spark SQL form, run by map_events / apply_quality. Every non-integer
# literal is CAST to DOUBLE: Spark SQL parses ``5.0`` as DECIMAL, which
# would turn quality_score into DECIMAL(17,6). quality_score reads q_int
# as a lateral column alias, so q_int is computed once (the optimized plan
# keeps it in its own Project, as withColumn did).
# ---------------------------------------------------------------------------
def _double(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


_READINGS_SELECT = (
    "ts",
    "concat(event_type, '_', CAST(event_id % 100 AS STRING)) AS sensor_id",
    "format_string('VH_%05d', user_id) AS vehicle_id",
    "event_type AS sensor_type",
    "value",
    "props AS measurements",
    "CAST(get_json_object(props, '$.k') AS INT) AS k",
)

# P2 core — integer completeness count 0..5 (reference
# SensorDataProcessor.scala:148-154). Kept as an exact integer so that
# aggregated quality averages are order-independent (sum of ints), then
# normalized to [0,1] once (SURVEY §7.4.2).
_Q_INT = """((CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN vehicle_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_type IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END))"""


def avg_quality() -> Column:
    """Mean quality_score of a group from the exact integer sum of
    ``q_int``, divided once: order-independent, unlike a double sum of
    the scores. ``registry`` rewrites every oracle ``avg(quality_score)``
    into the same arithmetic. Callers round it."""
    return F.sum("q_int").cast("double") / (F.lit(5.0) * F.count(F.lit(1)))

# P4 — chained CASE over sensor_type-specific thresholds (reference
# SensorDataProcessor.scala:176-183).
_spark_anomaly_whens = "\n        ".join(
    f"WHEN sensor_type = '{stype}' AND value > {_double(thr)} THEN {_double(score)}"
    for stype, thr, score in _ANOMALY_RULES
)

_QUALITY_WHERE = """ts IS NOT NULL AND sensor_id IS NOT NULL
    AND vehicle_id IS NOT NULL AND sensor_type IS NOT NULL"""

_QUALITY_SELECT = (
    "*",
    f"{_Q_INT} AS q_int",
    f"q_int / {_double(5.0)} AS quality_score",
    f"""CASE
        {_spark_anomaly_whens}
        WHEN value > {_double(_ANOMALY_DEFAULT_THRESHOLD)} THEN {_double(_ANOMALY_DEFAULT_SCORE)}
        ELSE {_double(0.0)}
    END AS anomaly_score""",
    "ts + INTERVAL 5 SECONDS AS processing_timestamp",
)


# ---------------------------------------------------------------------------
# DuckDB oracle twin. Prefix every oracle query with this CTE.
# ---------------------------------------------------------------------------
_anomaly_whens = "\n        ".join(
    f"WHEN sensor_type = '{stype}' AND value > {thr} THEN {score}"
    for stype, thr, score in _ANOMALY_RULES
)

SENSOR_ORACLE_CTE = f"""
WITH sensor_readings AS (
  SELECT
    ts,
    event_type || '_' || CAST(event_id % 100 AS VARCHAR) AS sensor_id,
    printf('VH_%05d', user_id) AS vehicle_id,
    event_type AS sensor_type,
    value,
    props AS measurements,
    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
),
sensor_quality_checked AS (
  SELECT *,
    ((CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN vehicle_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_type IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)) AS q_int,
    ((CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN vehicle_id IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN sensor_type IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)) / 5.0
      AS quality_score,
    CASE
        {_anomaly_whens}
        WHEN value > {_ANOMALY_DEFAULT_THRESHOLD} THEN {_ANOMALY_DEFAULT_SCORE}
        ELSE 0.0
    END AS anomaly_score,
    ts + INTERVAL 5 SECOND AS processing_timestamp
  FROM sensor_readings
  WHERE ts IS NOT NULL AND sensor_id IS NOT NULL
    AND vehicle_id IS NOT NULL AND sensor_type IS NOT NULL
)
"""
