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
- The session ships this package to the Python workers (``_ship_package``),
  so the Arrow kernels run wherever the workers start.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _half_host_memory() -> str:
    """Half the host's physical memory, in Spark's ``<n>m`` form: the
    default ``spark.driver.memory``. In local mode the driver JVM runs the
    whole engine, and the other half stays free for the Python workers
    and whatever else shares the host."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{host // 2 // 2**20}m"


def _ship_package(spark: SparkSession) -> None:
    """Put this package on the Python workers' import path, once per
    SparkContext. The Arrow kernels (mapInPandas/applyInPandas) pickle
    the module-level helpers they call by reference, so a worker has to
    import the package; one that starts outside the repo root, or on
    another host, fails with ModuleNotFoundError otherwise.

    The package's .py files are zipped into a directory under the
    context's SparkFiles root (Spark deletes it at shutdown) and added
    with ``addPyFile``: every executor fetches the zip and puts it on its
    workers' ``sys.path``, after the worker's own working directory, so a
    worker started in the repo root still imports the checkout itself.
    ``addFile`` also fetches the zip into the driver's root, and that
    copy marks a context that already has it (a plain ``os.path``
    check; listing the context's files through the JVM costs ~0.4 s on
    a new context)."""
    from pyspark import SparkFiles

    root = SparkFiles.getRootDirectory()
    name = os.path.basename(_PKG_DIR) + ".zip"
    if os.path.exists(os.path.join(root, name)):
        return
    out_dir = os.path.join(root, "_package")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for base, dirs, files in os.walk(_PKG_DIR):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    src = os.path.join(base, f)
                    z.write(src, os.path.relpath(src, os.path.dirname(_PKG_DIR)))
    spark.sparkContext.addPyFile(path)


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
    _ship_package(spark)
    return spark
