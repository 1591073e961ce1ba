"""Parquet table loaders for the testdata tables (TESTDATA.md): the one
read path for batch tables and for the events file stream.

Parquet is self-describing, so reads use the file's own schema (inferred
once per file state, see the schema memo below) — but every read is
validated against the declared schema in ``schema.py`` (the reference
inferred JSON schemas on every batch read, SensorDataAnalytics.scala:92-94;
at 100 TB an inference pass over JSON is an extra full scan, so all
non-self-describing reads in this engine take explicit schemas).
:func:`read_table` does both, for ``load_table`` (``spark.read``) and for
``streaming.pipeline.events_file_stream`` (``spark.readStream``, which
demands an explicit schema), so stream and batch decode alike.

Schema memo: resolving a parquet schema costs a Spark job (footer reads in
``mergeSchemasInParallel``) on every ``spark.read.parquet`` without a
schema. :func:`_physical_schema` infers once per path, glob and file state;
the read then passes the memo to ``reader.schema``, which launches no job.
The memo key is the path and ``pathGlobFilter`` glob, the ``(relative
name, size, mtime_ns, inode)`` of each data file under the path
(:func:`_data_files`; all of them, not only the glob's matches) and the
session values of the confs that change parquet schema inference
(``_SCHEMA_CONFS``), so a rewritten file, a new part file (a stream's
landing directory gaining a delivery, too) or a changed conf re-infers. A
rewrite that keeps a file's size, mtime and inode is not detected. A path
that cannot be statted (e.g. ``s3://``) is not memoized and infers on
every read. Each miss drops the entries of paths that no longer exist,
so an entry outlives its table only until the next miss.

Timestamp caveat: the testdata has stored ``ts`` both as TIMESTAMP(NANOS,
isAdjustedToUTC=false), which Spark's parquet reader rejects outright, and
as TIMESTAMP_NTZ micros. With ``spark.sql.legacy.parquet.nanosAsLong``
(set in session.py and before every inference) nanos arrive as int64; we
convert with integer division (``div``, never ``/`` — float division loses
precision above 2^53) to microsecond TimestampType, matching DuckDB's own
nanos→micros truncation bit-for-bit, and cast micros. The branch follows
the inferred file schema: a hardcoded nanos conversion over a micros file
silently lands in 1970.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession, types as T
from pyspark.sql.streaming import DataStreamReader

from ..schema import TABLE_NAMES, TESTDATA_SCHEMAS

# Session confs that change the schema Spark infers for a parquet path.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (path, glob) -> (memo key, inferred schema); one entry per path and
# glob, replaced when the key changes. Process-wide on purpose: the key
# fixes what Spark would infer, so every caller and session may share a hit.
_SCHEMA_MEMO: dict[tuple[str, str | None], tuple[tuple, T.StructType]] = {}


def _data_files(path: str) -> list[tuple[str, int, int, int]] | None:
    """``(relative name, size, mtime_ns, inode)`` of each data file of a
    table path (one parquet file, or a directory of part files where names
    starting with ``.``/``_`` are skipped), sorted by name; None when the
    path cannot be statted (missing, or non-local such as s3://)."""
    try:
        if os.path.isdir(path):
            files = []
            for root, _, names in os.walk(path):
                for f in names:
                    if f.startswith((".", "_")):
                        continue
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    files.append(
                        (os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino)
                    )
            return sorted(files)
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns, st.st_ino)]
    except OSError:
        return None


def _physical_schema(spark: SparkSession, path: str, glob: str | None) -> T.StructType:
    """The schema Spark infers for the parquet at ``path``, reading only
    the files whose names match ``glob`` when it is set; memoized (module
    docstring) unless the path cannot be statted."""
    # runtime-settable SQL conf: the caller may hand us a session built
    # elsewhere (e.g. a vanilla session, not session.get_spark) — without this,
    # any TIMESTAMP(NANOS) parquet read throws PARQUET_TYPE_ILLEGAL.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = _data_files(path)
    if files is None:
        return reader.parquet(path).schema
    key = (tuple(files), tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = _SCHEMA_MEMO.get((path, glob))
    if hit is None or hit[0] != key:
        # a miss also drops the entries of paths that are gone (a test
        # corpus under a deleted temp dir), so no entry outlives its table
        for gone in [k for k in _SCHEMA_MEMO if not os.path.exists(k[0])]:
            del _SCHEMA_MEMO[gone]
        hit = (key, reader.parquet(path).schema)
        _SCHEMA_MEMO[(path, glob)] = hit
    return hit[1]


def read_table(
    spark: SparkSession,
    reader: DataFrameReader | DataStreamReader,
    path: str,
    glob: str | None,
    name: str,
) -> DataFrame:
    """The parquet at ``path`` read through ``reader`` (``spark.read``, or
    ``spark.readStream`` for a file stream) with its memoized physical
    schema, decoded to table ``name``'s declared schema: a declared
    timestamp stored as int64 nanos or as TIMESTAMP_NTZ micros becomes
    TimestampType, and a declared column missing from the files raises
    ValueError."""
    schema = _physical_schema(spark, path, glob)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.schema(schema).parquet(path)
    actual = {f.name: f.dataType for f in schema.fields}
    exprs = []
    for field in TESTDATA_SCHEMAS[name].fields:
        if field.name not in actual:
            raise ValueError(f"{name}: missing column {field.name}")
        col = f"`{field.name}`"
        if isinstance(field.dataType, T.TimestampType) and isinstance(
            actual[field.name], T.LongType
        ):
            exprs.append(f"timestamp_micros({col} div 1000) AS {col}")
        elif isinstance(field.dataType, T.TimestampType) and isinstance(
            actual[field.name], T.TimestampNTZType
        ):
            # some testdata files store TIMESTAMP_NTZ micros directly;
            # normalize to TimestampType (UTC session → identical values)
            exprs.append(f"CAST({col} AS TIMESTAMP) AS {col}")
        else:
            exprs.append(col)
    return df.selectExpr(*exprs)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return read_table(spark, spark.read, f"{sf_dir}/{name}.parquet", None, name)


# Input-size gate threshold for scale-shape plan forms (currently
# j23/j23b's basket-array pair expansion): below this the local
# (broadcast-join) form wins — measured at sf0.1 in r17/r18 — and above
# it the fewer-shuffle form wins (validated r18 by forcing shuffle joins
# via autoBroadcastJoinThreshold=-1, the at-scale join strategy, where
# the basket form measured 12-15% faster; see OPTIMIZATION_r18.md).
# 256 MiB is past any sane broadcast and into multi-split scans, where
# shuffle count is the cost that scales. Tests override the module
# attribute.
SCALE_GATE_MIN_BYTES = 256 * 1024 * 1024


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of a table's parquet (file or directory of part
    files), or None when it cannot be statted (non-local path such as
    s3://). Used by the input-size gates that pick between a local
    (broadcast-friendly) plan and the 100 TB (shared-scan / fewer-pass)
    plan — a deterministic function of the INPUT, never of results, so
    both branches compute identical values and the gate only chooses the
    physical shape (r17 VERDICT Next #4)."""
    files = _data_files(os.path.join(sf_dir, f"{name}.parquet"))
    return None if files is None else sum(f[1] for f in files)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so SQL-form queries can run."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
