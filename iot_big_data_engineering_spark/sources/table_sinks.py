"""Managed-table sinks — the rebuild of the reference's Hive table layer.

Reference anchors:
- S6 streaming append sinks (SensorDataProcessor.scala:191-214):
  ``saveAsTable`` mode append with explicit path, three tables per batch.
  The streaming rebuild writes each micro-batch through :func:`write_epoch`
  instead, so that a replayed batch replaces its rows.
- S7 batch overwrite sinks (SensorDataAnalytics.scala:215-256): five
  analytics tables overwritten under dated paths — here one managed table
  each with dynamic partition overwrite on the date column (idempotent
  re-runs replace only the processed date).
- S8 report sinks (SensorDataAnalytics.scala:278-300): plain overwrite.
- S11 JDBC serving store (src/api/sensor_api.py:49-51): the reference
  served from Postgres; the rebuild keeps tables in Spark and offers a
  JDBC reader/writer option builder for deployments that still want an
  external store (no Postgres in this environment — builders are config
  only, exercised for shape in tests).

Local-mode note: ``saveAsTable`` uses the session catalog (Derby metastore
+ spark-warehouse dir) — works single-JVM; on a cluster the same code
targets the shared metastore.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Overwrite the directory ``path/epoch_id=N`` with ``df``'s rows, so
    readers of ``path`` see ``epoch_id`` as an int partition column.

    An epoch is written at least once: foreachBatch replays an epoch whose
    checkpoint commit a crash cut off, and a backfill re-delivers a period.
    Appending the replay would duplicate its rows; overwriting the epoch's
    own directory replaces them, so the sink is replay-idempotent (with
    checkpointed offsets, the exactly-once recipe SCALE.md states). An
    empty frame overwrites too: it leaves one schema-only part file, so a
    torn earlier write of the epoch never survives its replay. Runs one
    write job and nothing else: no checkpoint, no emptiness check."""
    df.write.mode("overwrite").parquet(
        os.path.join(path, f"epoch_id={int(epoch_id)}")
    )


def append_table(df: DataFrame, table: str, path: str | None = None) -> None:
    """S6: streaming-style append into a managed (or path-backed) table."""
    writer = df.write.mode("append")
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def overwrite_dated_table(
    df: DataFrame, table: str, date_col: str = "processing_date"
) -> None:
    """S7: idempotent daily overwrite — partition the managed table by the
    date column and dynamically overwrite only the dates present in ``df``
    (the reference rewrote hand-built ``.../date=<d>`` paths). The session's
    overwrite mode is set for this call only and restored afterwards."""
    spark = df.sparkSession
    previous = spark.conf.get(_OVERWRITE_MODE, None)
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        if not spark.catalog.tableExists(table):
            df.write.partitionBy(date_col).saveAsTable(table)
        else:
            # insertInto is positional; align to the table's column order
            # (partition columns are stored last in a partitioned table)
            df.select(*spark.table(table).columns).write.insertInto(
                table, overwrite=True
            )
    finally:
        if previous is None:
            spark.conf.unset(_OVERWRITE_MODE)
        else:
            spark.conf.set(_OVERWRITE_MODE, previous)


def overwrite_table(df: DataFrame, table: str) -> None:
    """S8: report sink — full overwrite."""
    df.write.mode("overwrite").saveAsTable(table)


def jdbc_options(
    url: str,
    table: str,
    user: str,
    password: str,
    fetchsize: int = 10_000,
    batchsize: int = 10_000,
) -> dict[str, str]:
    """S11: JDBC source/sink options for an external serving store
    (``spark.read.format('jdbc').options(**jdbc_options(...)).load()``).
    fetchsize/batchsize sized for bulk transfer, not row-at-a-time."""
    return {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "fetchsize": str(fetchsize),
        "batchsize": str(batchsize),
        "driver": "org.postgresql.Driver",
    }
