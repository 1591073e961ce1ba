"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
same config block is what we would ship to a 1000-executor cluster — AQE on
(runtime re-plan, partition coalescing, skew-join splitting), UTC session
timezone (so DuckDB-oracle timestamp comparisons match), Arrow enabled for
the few Pandas-UDF extension paths.

Scale notes (100 TB design):
- ``spark.sql.shuffle.partitions`` is sized to cores locally; on a real
  cluster AQE coalescing makes the initial number mostly a ceiling — set it
  high (e.g. 2000+) and let AQE shrink.
- ``spark.sql.adaptive.skewJoin.enabled`` splits skewed shuffle partitions
  at runtime — important for hot keys (e.g. a vehicle_id that dominates).
- ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: at 100 TB
  that is ~800k input splits, the right granularity for parquet scans.
- ``spark.driver.memory`` defaults to half the host's physical memory;
  ``SPARK_DRIVER_MEMORY`` (or ``extra_conf``) overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _half_host_memory() -> str:
    """Half the host's physical memory, in Spark's ``<n>m`` form: the
    default ``spark.driver.memory``. In local mode the driver JVM runs the
    whole engine, and the other half stays free for the Python workers
    and whatever else shares the host."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{host // 2 // 2**20}m"


def get_spark(
    app_name: str = "iot_big_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _half_host_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver testdata stores TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as int64 ns and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
