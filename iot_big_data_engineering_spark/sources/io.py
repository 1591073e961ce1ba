"""Sources & sinks — the rebuild of the reference's storage layer.

Reference anchors:
- S5 partition-path selection (SensorDataAnalytics.scala:78-96): the
  reference string-interpolated `year=/month=/day=` paths and read exactly
  one directory. Here the layout is declared once at write time
  (``partitionBy``) and Catalyst partition-prunes reads from a ``.where()``
  on the partition columns — same I/O, no hand-built paths.
- S6/S7 table sinks (SensorDataProcessor.scala:191-214,
  SensorDataAnalytics.scala:215-256): append for streaming, idempotent
  dated overwrite for batch. Dynamic partition overwrite replaces the
  reference's per-date path rewriting.
- S3/S9 Kafka wire format (SensorDataProcessor.scala:100-112,
  SensorDataProducer.scala:26-84): JSON value keyed by
  ``{vehicleId}_{sensorId}``; parse with ``from_json`` + explicit schema
  (PERMISSIVE → corrupt rows become nulls and are filtered, replacing the
  reference's per-record Jackson try/catch). The Kafka connector jar is not
  in this environment, so reader/writer option builders are provided and
  wire encode/decode is tested broker-free via DataFrame round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import SENSOR_WIRE_SCHEMA

DATE_PARTS = ("year", "month", "day")

# The reference's three partition layouts (SensorDataAnalytics.scala:83-88):
# daily → year=/month=/day=, weekly → year=/week=, monthly → year=/month=.
# Declared once at write time; reads partition-prune via .where().
GRANULARITY_PARTS: dict[str, tuple[str, ...]] = {
    "daily": DATE_PARTS,
    "weekly": ("year", "week"),
    "monthly": ("year", "month"),
}


# ---------------------------------------------------------------------------
# Partitioned parquet layout (S5/S7)
# ---------------------------------------------------------------------------
def with_date_partitions(
    df: DataFrame, ts_col: str = "ts", granularity: str = "daily"
) -> DataFrame:
    parts = GRANULARITY_PARTS[granularity]  # KeyError = caller bug
    out = df.withColumn("year", F.year(ts_col))
    if "week" in parts:
        out = out.withColumn("week", F.weekofyear(ts_col))
    if "month" in parts:
        out = out.withColumn("month", F.month(ts_col))
    if "day" in parts:
        out = out.withColumn("day", F.dayofmonth(ts_col))
    return out


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "append",
    granularity: str = "daily",
) -> None:
    """Write Hive-layout partitioned parquet at the chosen granularity
    (``daily``→ year=/month=/day=, ``weekly``→ year=/week=, ``monthly``→
    year=/month= — the reference's three layouts). With
    ``mode='overwrite'`` + dynamic partition overwrite, re-running a period
    replaces only that period's partitions — the idempotent batch sink
    (reference overwrote hand-built dated paths)."""
    (
        with_date_partitions(df, ts_col, granularity)
        .write.mode(mode)
        .partitionBy(*GRANULARITY_PARTS[granularity])
        # per-write option, NOT a session-conf mutation: a library call
        # must not silently flip overwrite semantics for every later
        # write in the session
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def read_partitioned(
    spark: SparkSession,
    path: str,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
    week: int | None = None,
) -> DataFrame:
    """Read a partitioned layout; passing year/month/day (daily, monthly)
    or year/week (weekly) adds partition predicates that Catalyst turns
    into directory pruning (assert via plans.checks / PartitionFilters)."""
    df = spark.read.parquet(path)
    for col, val in (("year", year), ("month", month), ("day", day), ("week", week)):
        if val is not None:
            df = df.where(F.col(col) == val)
    return df


# ---------------------------------------------------------------------------
# Kafka wire format (S3/S9) — broker-free encode/decode
# ---------------------------------------------------------------------------
def to_kafka_wire(readings: DataFrame) -> DataFrame:
    """sensor readings → (key, value) pairs as the producer would emit:
    key = '{vehicle_id}_{sensor_id}', value = JSON of the nested wire
    record (location re-nested, ISO-8601 timestamp string)."""
    return readings.select(
        F.concat_ws("_", "vehicle_id", "sensor_id").alias("key"),
        F.to_json(
            F.struct(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "timestamp"
                ),
                F.col("sensor_id"),
                F.col("vehicle_id"),
                F.col("sensor_type"),
                F.struct(
                    F.col("latitude"), F.col("longitude")
                ).alias("location"),
                F.col("measurements"),
                F.col("metadata"),
            )
        ).alias("value"),
    )


def from_kafka_wire(wire: DataFrame) -> DataFrame:
    """(key, value) pairs → flat sensor readings. PERMISSIVE from_json:
    unparseable values produce an all-null struct, filtered like the
    reference's dropped Jackson failures — but declaratively, with zero
    per-record Python/JVM object churn."""
    parsed = wire.select(
        F.from_json(F.col("value").cast("string"), SENSOR_WIRE_SCHEMA).alias("r")
    )
    return (
        parsed.filter(F.col("r").isNotNull() & F.col("r.timestamp").isNotNull())
        .select(
            F.to_timestamp("r.timestamp").alias("ts"),
            F.col("r.sensor_id").alias("sensor_id"),
            F.col("r.vehicle_id").alias("vehicle_id"),
            F.col("r.sensor_type").alias("sensor_type"),
            F.col("r.location.latitude").alias("latitude"),
            F.col("r.location.longitude").alias("longitude"),
            F.col("r.measurements").alias("measurements"),
            F.col("r.metadata").alias("metadata"),
        )
    )


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str = "sensor-data",
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """readStream options mirroring the reference consumer config
    (SensorDataProcessor.scala:47-63). Structured Streaming manages offsets
    in the checkpoint, replacing auto-commit/group semantics."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }


def kafka_writer_options(
    bootstrap_servers: str, topic: str = "sensor-data"
) -> dict[str, str]:
    """writeStream options mirroring the reference producer tuning
    (SensorDataProducer.scala:26-41): idempotent, acks=all, snappy
    batching. Delivery becomes exactly-once-per-epoch with checkpointing +
    idempotent production."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
        "kafka.retries": "3",
        "kafka.compression.type": "snappy",
        "kafka.batch.size": "16384",
        "kafka.linger.ms": "5",
        "kafka.buffer.memory": "33554432",
        "kafka.max.in.flight.requests.per.connection": "5",
    }


def write_stream_to_kafka(df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str):
    """Streaming Kafka sink (requires the spark-sql-kafka package on the
    classpath — not shipped in this environment; gated at call time)."""
    writer = df.writeStream.format("kafka").option(
        "checkpointLocation", checkpoint
    )
    for k, v in kafka_writer_options(bootstrap_servers, topic).items():
        writer = writer.option(k, v)
    return writer.start()


# ---------------------------------------------------------------------------
# Bucketed co-located layout — the 100 TB answer for the one genuinely
# large-large join in the schema (orders ⋈ lineitem on orderkey; SURVEY.md
# §2.5 join strategy). `bucketBy(N, key)` + `sortBy(key)` writes each side
# pre-hash-partitioned into the same N buckets, so the join plans as a
# sort-merge join with ZERO Exchange on either side — the shuffle happens
# once at write time and every subsequent join of the two tables is free.
# At 100 TB: N sized so a bucket of the big fact fits an executor core's
# working set (e.g. 4096 buckets for ~25 GB each of raw lineitem).
# ---------------------------------------------------------------------------
def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed+sorted managed table (bucket layout only
    applies to `saveAsTable` — plain `.parquet(path)` ignores bucketBy)."""
    (
        df.write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str
) -> DataFrame:
    """Join two identically-bucketed tables; with matching bucket counts
    Spark elides both shuffles (assert via plans.checks.assert_no_exchange).
    The merge hint pins the sort-merge strategy that exploits the bucket
    layout — otherwise a small side can flip to broadcast-hash (fine, but
    then the bucketing buys nothing and at scale both sides are big)."""
    lt = spark.table(left_table).hint("merge")
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])


# ---------------------------------------------------------------------------
# Compaction + stats-friendly layout — the two chronic 100 TB hygiene
# problems: (a) streaming/append sinks accumulate small files (every file
# is a task + a namenode entry; 10^6 tiny files kill a scan); (b) parquet
# row-group min/max stats only prune when values are clustered, which an
# unsorted write destroys.
# ---------------------------------------------------------------------------
def write_compacted(
    df: DataFrame, path: str, n_files: int, sort_col: str | None = None
) -> None:
    """Rewrite a dataset into exactly n_files parquet files, optionally
    range-clustered on sort_col. `repartitionByRange(sort_col)` +
    `sortWithinPartitions` gives globally-range-clustered files whose
    row-group min/max stats are disjoint → a predicate on sort_col skips
    whole files/row-groups at scan time. At cluster scale n_files is
    sized from bytes/128 MB; AQE's rebalance does the same for shuffle
    outputs."""
    if sort_col:
        out = df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)


def parquet_file_stats(path: str, column: str) -> list[tuple]:
    """(file, min, max) of a column across the parquet files at path —
    the evidence that range-clustering produced pruning-friendly stats."""
    import os as _os

    import pyarrow.parquet as pq

    stats = []
    for fname in sorted(_os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(_os.path.join(path, fname)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col_md = None
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == column:
                    col_md = c
                    break
            if col_md is not None and col_md.statistics is not None:
                mins.append(col_md.statistics.min)
                maxs.append(col_md.statistics.max)
        if mins:
            stats.append((fname, min(mins), max(maxs)))
    return stats


# ---------------------------------------------------------------------------
# Z-order clustered layout — multi-dimensional file skipping.
# write_compacted clusters on ONE key; a 100 TB table queried by several
# dimensions (vehicle AND time, customer AND value) needs min/max stats
# tight on ALL of them simultaneously. Interleaving the bits of the
# rank-scaled dimensions (Morton/Z-value) and range-clustering on that
# single derived key keeps every file's bounding box small in every
# dimension — the standard lakehouse Z-ORDER, built here from public
# Spark primitives only (min/max calibration + codegen'd bit mixing +
# repartitionByRange).
# ---------------------------------------------------------------------------
def zorder_value(scaled_cols: list, bits: int = 16):
    """Morton interleave of pre-scaled non-negative int columns (each in
    [0, 2^bits)): bit i of column j lands at position i*ncols + j.

    ncols*bits must stay within the 63 value bits of a long — one bit
    higher lands on the sign bit, flipping affected Z-values negative and
    silently inverting the repartitionByRange clustering."""
    ncols = len(scaled_cols)
    if ncols * bits > 63:
        raise ValueError(
            f"zorder_value: {ncols} cols x {bits} bits = {ncols * bits} "
            "interleaved bits exceeds the 63 usable bits of a long; "
            "lower bits (write_zordered auto-shrinks to 63 // ncols)"
        )
    z = F.lit(0).cast("long")
    for j, c in enumerate(scaled_cols):
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                i * ncols + j,
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int, bits: int = 16
) -> None:
    """Write df as n_files parquet files range-clustered on the Z-value
    of ``cols``. Each column is min/max-scaled to ``bits`` bits from a
    one-pass calibration aggregate (numeric/timestamp columns; casts via
    long). Query-time benefit needs no reader support — parquet min/max
    stats on the ORIGINAL columns are what prune, and Z-clustering is
    what makes those stats tight per file in every listed dimension."""
    # more dimensions than value bits allow at the requested depth →
    # shrink depth rather than overflow into the sign bit (the clustering
    # granularity drops, the property survives)
    bits = min(bits, 63 // max(len(cols), 1))
    aggs = []
    for c in cols:
        lc = F.col(c).cast("long")
        aggs += [F.min(lc).alias(f"_min_{c}"), F.max(lc).alias(f"_max_{c}")]
    cal = df.agg(*aggs).first()
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = cal[f"_min_{c}"], cal[f"_max_{c}"]
        span = max(int(hi) - int(lo), 1)
        # scale in DOUBLE: (col-lo)*top in long arithmetic overflows int64
        # for spans past ~2^47 (epoch-nanos, synthetic bigints) — double
        # loses low-order bits instead, harmless at a <=63-bit target grid
        scaled.append(
            (
                (F.col(c).cast("long") - F.lit(int(lo))).cast("double")
                * top
                / F.lit(span)
            ).cast("long")
        )
    out = df.withColumn("_z", zorder_value(scaled, bits))
    (
        out.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
