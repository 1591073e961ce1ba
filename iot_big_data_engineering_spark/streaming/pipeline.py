"""Structured Streaming pipeline — the rebuild of the reference's DStream
job (src/spark/streaming/SensorDataProcessor.scala:22-230), SURVEY.md §2.7.

Reference shape: Kafka → per-10s micro-batch → parse → quality checks →
1-minute windowed analytics → anomaly detection → three Hive sinks.
Rebuild shape (Spark-first):

    readStream (file/rate/kafka) → map to sensor schema → apply_quality
      → foreachBatch(epoch):
          quality rows   → write_epoch  (sensor_quality_checked)
          A1 window agg  → write_epoch  (sensor_analytics)
          anomaly rows   → write_epoch  (sensor_anomalies)

Two window semantics, both provided (SURVEY §7.4.3):
- ``run_microbatch_pipeline`` reproduces the reference's per-batch windows
  (window() applied inside each micro-batch; windows never span batches —
  observable-output parity with the reference);
- ``windowed_analytics_stream`` is the idiomatic cross-batch form:
  ``withWatermark`` + tumbling window + late-data tolerance. Distinct
  counts use ``approx_count_distinct`` (exact distinct is unsupported in
  true streaming aggregation — SURVEY §7.4.4).

Deliberately NOT copied from the reference (SURVEY §4 anti-patterns):
no ``count() > 0`` guards before writes (each is an extra job per batch),
no per-record parser allocation, no schema inference.

Run and sink contract, shared by every query in this module:

- **Run.** Every bounded stream runs through :func:`run_available_now`:
  the availableNow trigger drains the input present at start, in as many
  micro-batches as ``maxFilesPerTrigger`` makes, and stops (st10's first
  phase, which must be killed mid-stream, is the one exception). The
  helper is the one place a per-batch progress listener attaches.
  :func:`data_batches` counts the micro-batches that carried rows; the
  ``st*`` certificates raise (RuntimeError — ``python -O`` strips
  asserts) when that count cannot support the oracle comparison.
- **Memory sinks.** :func:`to_memory` runs a stream into a memory sink,
  binds the result frame, then drops the sink's temp view, so repeated
  calls pin no rows in the session.
- **Epoch-keyed overwrite.** foreachBatch is at-least-once: a crash between
  the sink write and the checkpoint commit replays the epoch. Every
  foreachBatch sink writes through :func:`write_epoch`, which overwrites
  exactly the epoch's own ``epoch_id=N`` partition, so a replay replaces
  its rows instead of duplicating them.
- **Empty epochs.** An overwrite of an empty frame touches no partition,
  so a torn write of that epoch would outlive its replay. State sinks that
  already know a batch is empty write the empty epoch with
  :func:`clear_epoch` instead.
- **Scratch.** Inputs, state stores and checkpoints that a query stages
  live under one :func:`~..caching.scratch_dir`, removed on every exit;
  bounded results leave through :func:`~..caching.collect_local` first.

Scale notes: at production scale the three sinks become partitioned tables
(partitionBy(date)); foreachBatch + epoch-keyed overwrite gives exactly-once
into an idempotent sink; checkpointLocation carries source offsets.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterable
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..caching import collect_local, scratch_dir, track
from ..functions.rounding import fround
from ..operators.advanced import _ADV14_ORACLE, scd2_history_rows, scd2_inputs
from ..operators.analytics import A1_ORACLE
from ..operators.joins import _disc_price as _j_disc_price
from ..operators.sketches import (
    _A21_NBINS,
    _A21_PS,
    _A22_ORACLE,
    A17_ORACLE,
    A21_ORACLE,
    A23_ORACLE,
    _partial_state,
    cms_heavy_hitter_report,
    cms_merge_consistent,
    cms_table,
    finalize_rollup,
    merge_states,
)
from ..operators.textstats import (
    _DP16_ORACLE,
    card_assemble,
    card_counters,
    card_lang_counts,
    card_project,
    card_text_keys,
)
from ..registry import register
from ..sources.sensor_view import (
    SENSOR_ORACLE_CTE,
    apply_quality,
    map_events,
    quality_checked,
)
from ..sources.tables import load_table

# key slices a multi-batch replay splits its input into (write_slices)
_ST8_N_SPLITS = 3


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with the availableNow trigger and block until the
    bounded input is drained."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def to_memory(
    df: DataFrame, mode: str = "append"
) -> tuple[StreamingQuery, DataFrame]:
    """Run the streaming ``df`` into a memory sink in output ``mode``.
    Returns the finished query and the sink's rows; the sink's temp view is
    dropped once the frame is bound (the frame keeps the rows), and also
    when the run raises."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex}"
    try:
        q = run_available_now(
            df.writeStream.outputMode(mode).format("memory").queryName(name)
        )
        out = spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
    return q, out


def data_batches(q: StreamingQuery) -> int:
    """Micro-batches of ``q`` that carried input rows. Reads
    ``recentProgress``, a ring buffer of the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100) batches."""
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write one foreachBatch epoch's rows to the parquet sink at ``path``
    as partition ``epoch_id=N``.

    foreachBatch is at-least-once: a crash between the sink write and the
    checkpoint commit replays the epoch. Appending the replay would
    duplicate its rows forever; dynamically overwriting exactly the epoch's
    own partition replaces them, so the sink is replay-idempotent — with
    checkpointed offsets, the exactly-once recipe SCALE.md states. Runs one
    write job and nothing else: no checkpoint, no emptiness check."""
    (
        df.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(path)
    )


def clear_epoch(epoch_id: int, *paths: str) -> None:
    """Write an empty epoch to each ``write_epoch`` sink in ``paths``:
    delete the epoch's partition (at real scale, the partition-prefix
    delete an object-store sink issues), since an overwrite with an empty
    frame would leave a torn earlier write of it in place."""
    for path in paths:
        shutil.rmtree(
            os.path.join(path, f"epoch_id={int(epoch_id)}"), ignore_errors=True
        )


def write_slices(
    df: DataFrame, key: str, in_dir: str, slices: Iterable[int]
) -> None:
    """Append slice ``i`` of ``df`` to ``in_dir`` as one parquet file, for
    each ``i`` in ``slices``. Slice ``i`` holds the rows with
    ``pmod(xxhash64(key), _ST8_N_SPLITS) == i``: deterministic, and every
    slice is non-empty on any non-degenerate corpus (``repartition(N)``'s
    round-robin makes no such promise on tiny inputs). Streamed at
    ``maxFilesPerTrigger=1``, each file is one micro-batch."""
    slice_of = F.pmod(F.xxhash64(key), F.lit(_ST8_N_SPLITS))
    for i in slices:
        df.filter(slice_of == i).coalesce(1).write.mode("append").parquet(in_dir)


def _events_raw_schema(
    spark: SparkSession, path: str, glob: str | None
) -> T.StructType:
    """Physical schema of the events parquet, taken from the file footer
    (a streaming read demands an explicit schema; hardcoding one silently
    mis-decodes when the testdata generation changes its timestamp
    physical type — ts has shipped both as TIMESTAMP(NANOS) → int64-nanos
    under nanosAsLong, and as TIMESTAMP_NTZ micros)."""
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path).schema


def events_file_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded file-stream over events parquet (the test/CI stand-in for
    the Kafka source; same downstream pipeline). ts is normalized to
    session-TZ TimestampType exactly like the batch loader
    (sources/tables.py) so stream and batch agree bit-for-bit."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = _events_raw_schema(spark, path, glob)
    reader = spark.readStream.schema(raw_schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) read as int64 nanos: integer-divide to micros
        # (div, never /: float division loses precision above 2^53)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def sensor_stream(spark: SparkSession, path: str, **kw) -> DataFrame:
    """events stream → canonical sensor readings → quality stage."""
    return apply_quality(map_events(events_file_stream(spark, path, **kw)))


def batch_windowed_analytics(df: DataFrame) -> DataFrame:
    """A1 aggregation applied to one micro-batch (reference
    SensorDataProcessor.scala:160-169 — exact countDistinct is fine here
    because each micro-batch is a plain batch DataFrame)."""
    w = F.window("ts", "1 minute")
    return (
        df.groupBy(w.alias("w"), "sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            F.countDistinct("vehicle_id").alias("unique_vehicles"),
            F.countDistinct("sensor_id").alias("unique_sensors"),
            fround((F.sum("q_int").cast("double") / (F.lit(5.0) * F.count(F.lit(1)))), 6).alias("avg_quality_score"),
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


def run_microbatch_pipeline(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    glob: str | None = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> dict[str, str]:
    """Reference-parity pipeline: quality → per-batch windowed analytics →
    anomalies, each appended to a parquet sink per micro-batch. Runs the
    bounded stream to completion and returns the sink paths."""
    quality_path = os.path.join(out_dir, "sensor_quality_checked")
    analytics_path = os.path.join(out_dir, "sensor_analytics")
    anomalies_path = os.path.join(out_dir, "sensor_anomalies")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    stream = sensor_stream(
        spark, source_path, glob=glob, max_files_per_trigger=max_files_per_trigger
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            write_epoch(batch_df, epoch_id, quality_path)
            write_epoch(
                batch_windowed_analytics(batch_df), epoch_id, analytics_path
            )
            write_epoch(
                batch_df.filter(F.col("anomaly_score") > 0),
                epoch_id,
                anomalies_path,
            )
        finally:
            batch_df.unpersist()

    run_available_now(
        stream.writeStream.foreachBatch(process_batch).option(
            "checkpointLocation", checkpoint
        )
    )
    return {
        "quality": quality_path,
        "analytics": analytics_path,
        "anomalies": anomalies_path,
    }


def windowed_analytics_stream(
    stream: DataFrame, watermark: str = "2 minutes"
) -> DataFrame:
    """Idiomatic cross-batch tumbling windows with late-data handling.
    approx_count_distinct replaces exact distinct (unsupported in streaming
    aggregates); rsd=0.01 keeps the HLL sketch small enough to ship in
    state-store rows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            F.approx_count_distinct("vehicle_id", 0.01).alias("unique_vehicles"),
            F.approx_count_distinct("sensor_id", 0.01).alias("unique_sensors"),
            fround((F.sum("q_int").cast("double") / (F.lit(5.0) * F.count(F.lit(1)))), 6).alias("avg_quality_score"),
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


def run_windowed_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    glob: str | None = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the watermarked windowed aggregation over a bounded stream into
    an in-memory sink (append mode: only watermark-closed windows emit)."""
    stream = sensor_stream(
        spark, source_path, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    return to_memory(windowed_analytics_stream(stream))[1]


# ---------------------------------------------------------------------------
# Registered streaming query: the full micro-batch pipeline over the events
# file (bounded stream), returning the accumulated sensor_analytics sink.
# With availableNow over a single parquet file the stream is one micro-batch,
# so the accumulated output equals batch A1 exactly → shares A1's oracle.
# ---------------------------------------------------------------------------


@register(
    "st1_streaming_microbatch_analytics",
    oracle=A1_ORACLE,
    doc="S1-S6 streaming pipeline: foreachBatch fan-out, analytics sink",
)
def st1_streaming_microbatch_analytics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the analytics result is windows×types rows — bounded; the scratch
    # sinks hold a full quality-checked copy of the corpus per run
    with scratch_dir("iotx_stream_") as out_dir:
        paths = run_microbatch_pipeline(spark, sf_dir, out_dir)
        # Schema-pinned re-read (the a17c compactor pattern,
        # operators/sketches.py): an all-empty corpus writes the sink
        # dirs with zero data files, and an inferred read would throw
        # UNABLE_TO_INFER_SCHEMA. The pin is captured from the SAME
        # logical plan the foreachBatch writer runs (batch analytics +
        # epoch_id lit), so it tracks the source's actual ts physical
        # type instead of hardcoding one (the r3 nanos/micros lesson).
        sink_schema = (
            batch_windowed_analytics(sensor_stream(spark, sf_dir))
            .withColumn("epoch_id", F.lit(0))
            .schema
        )
        raw = spark.read.schema(sink_schema).parquet(paths["analytics"])
        # same single-batch assumption st3/st5-st7 pin with
        # _assert_single_data_batch: per-batch windows equal the batch A1
        # oracle only when ALL input lands in one micro-batch (a split
        # source emits two rows per straddled window). Proven here from
        # the sink itself: one data batch ⇔ one epoch partition. ZERO
        # epochs (an all-empty corpus never materializes a partition) is
        # vacuously fine — the empty analytics frame IS the A1 result.
        n_epochs = raw.select("epoch_id").distinct().count()
        if n_epochs > 1:
            raise RuntimeError(
                f"st1's bounded source split into {n_epochs} data "
                "micro-batches; per-batch-window oracle parity assumes "
                "exactly one"
            )
        return collect_local(raw.drop("epoch_id"))


# ---------------------------------------------------------------------------
# Stream-static enrichment + streaming dedup (SURVEY §2.5 / §2.7 extensions)
# ---------------------------------------------------------------------------
def enrich_stream(stream: DataFrame, dim: DataFrame, stream_key: str, dim_key: str) -> DataFrame:
    """Stream-static broadcast join: the static dimension is re-resolved
    per micro-batch (dim updates are picked up batch-to-batch) and ships
    as a broadcast, so the stream side never shuffles — the streaming
    analog of the batch dimension-enrichment joins (j13)."""
    return stream.join(F.broadcast(dim), stream[stream_key] == dim[dim_key], "left")


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate keys arriving
    within the watermark horizon. State is bounded by the watermark (keys
    older than it are evicted), which is what makes this viable at 100 TB —
    an unbounded dropDuplicates would grow state forever."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_window_stream(
    stream: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows per vehicle (dynamic-length windows that
    close after `gap` of silence) — the streaming twin of the batch
    sessionize operator (adv1). Watermark bounds session state: a session
    finalizes (and its state evicts) once the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "vehicle_id")
        .agg(
            F.count("*").alias("n_readings"),
            F.sum("q_int").alias("q_total"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "vehicle_id",
            "n_readings",
            "q_total",
        )
    )


# ---------------------------------------------------------------------------
# Registered streaming query #2: event-time session windows over the
# bounded stream. Oracle = gap-based sessionization in SQL (lag + running
# sum), with the two streaming semantics mirrored exactly:
# - Spark sessions are half-open [start, last+gap): an event at exactly
#   last+gap starts a NEW session → oracle splits on diff >= gap;
# - append mode emits only sessions the final watermark closed; with
#   availableNow the final watermark is max(ts) - watermark_delay → oracle
#   keeps sessions with session_end <= max(ts) - 10 minutes.
# ---------------------------------------------------------------------------
_ST2_ORACLE = (
    SENSOR_ORACLE_CTE
    + """
, s AS (
  SELECT vehicle_id, ts, q_int,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM sensor_quality_checked
  WINDOW w AS (PARTITION BY vehicle_id ORDER BY ts)
),
g AS (
  SELECT *, sum(is_new) OVER (PARTITION BY vehicle_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
),
sess AS (
  SELECT vehicle_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 5 MINUTE AS session_end,
         count(*) AS n_readings,
         CAST(sum(q_int) AS BIGINT) AS q_total
  FROM g GROUP BY vehicle_id, sid
)
SELECT session_start, session_end, vehicle_id, n_readings, q_total
FROM sess
WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE
                      FROM sensor_quality_checked)
"""
)


@register(
    "st2_streaming_session_windows",
    oracle=_ST2_ORACLE,
    doc="§2.7 session windows: streaming gap sessions ≡ SQL sessionization",
)
def st2_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_memory(session_window_stream(sensor_stream(spark, sf_dir)))[1]


# ---------------------------------------------------------------------------
# Registered streaming query #3: the idiomatic watermarked cross-batch
# tumbling windows (the true-streaming A1 form, approx distincts). Oracle =
# the same window aggregation in SQL restricted to watermark-CLOSED
# windows (window_end <= max(ts) - 2 minutes — append mode emits nothing
# later), with the HLL estimates bounded by within-3rsd flags exactly like
# the batch approx twins.
# ---------------------------------------------------------------------------
_ST3_ORACLE = (
    SENSOR_ORACLE_CTE
    + """
SELECT date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       sensor_type,
       count(*) AS record_count,
       count(DISTINCT vehicle_id) AS unique_vehicles,
       TRUE AS vehicles_within_3rsd
FROM sensor_quality_checked
GROUP BY 1, 2, 3
HAVING date_trunc('minute', ts) + INTERVAL 1 MINUTE
       <= (SELECT max(ts) - INTERVAL 2 MINUTE FROM sensor_quality_checked)
"""
)


def st3_streaming_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of st3: streaming state per (window × sensor_type)
    is exactly one count and one HLL sketch — bounded regardless of vehicle
    cardinality, safe at 100 TB. (An earlier form carried
    ``collect_set(vehicle_id)`` through state to self-certify the HLL error
    bound; that is exact-distinct state, unbounded — the bound is now
    certified by a batch post-check in the registered query instead.)"""
    stream = sensor_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(
            F.count("*").alias("record_count"),
            F.approx_count_distinct("vehicle_id", 0.01).alias("approx_vehicles"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sensor_type",
            "record_count",
            "approx_vehicles",
        )
    )
    q, out = to_memory(agg)
    # append-mode window closure only matches the oracle when ALL input
    # lands in one micro-batch (a split source drops still-open windows
    # silently)
    _assert_single_data_batch(q, "st3")
    return out


@register(
    "st3_streaming_watermarked_windows",
    oracle=_ST3_ORACLE,
    doc="§2.7 watermarked tumbling windows, HLL estimates error-bounded",
)
def st3_streaming_watermarked_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verification harness around :func:`st3_streaming_product`: the
    streamed result (bounded state) is batch-joined against an exact
    per-window distinct count computed directly from the parquet, which
    certifies the streaming HLL estimate within 3·rsd. The batch join is
    the CHECK, not the product path — at scale you run the streaming query
    alone and never materialize the exact distinct."""
    streamed = st3_streaming_product(spark, sf_dir)
    exact = (
        quality_checked(spark, sf_dir)
        .groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(F.countDistinct("vehicle_id").alias("unique_vehicles"))
        .select(
            F.col("w.start").alias("window_start"),
            "sensor_type",
            "unique_vehicles",
        )
    )
    ex = F.col("unique_vehicles").cast("double")
    return (
        streamed.join(exact, ["window_start", "sensor_type"])
        .select(
            "window_start",
            "window_end",
            "sensor_type",
            "record_count",
            "unique_vehicles",
            (
                F.abs(F.col("approx_vehicles").cast("double") - ex)
                <= F.greatest(F.lit(0.03) * ex, F.lit(1.0))
            ).alias("vehicles_within_3rsd"),
        )
    )


# ---------------------------------------------------------------------------
# Registered streaming query #4: stream-static dimension enrichment. The
# static side (customer ⋈ nation, re-resolved per micro-batch) ships as a
# broadcast so the stream never shuffles — the streaming twin of the batch
# dimension joins (j13). The join is stateless, so append mode emits every
# enriched row with no watermark dependency.
# ---------------------------------------------------------------------------
_ST4_ORACLE = (
    SENSOR_ORACLE_CTE
    + """
SELECT s.ts, s.vehicle_id, s.sensor_type, s.value,
       c.c_mktsegment AS mktsegment, n.n_name AS nation_name
FROM sensor_quality_checked s
LEFT JOIN customer c ON s.vehicle_id = printf('VH_%05d', c.c_custkey)
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""
)


@register(
    "st4_stream_static_join",
    oracle=_ST4_ORACLE,
    doc="§2.7 stream-static broadcast enrichment (streaming twin of j13)",
)
def st4_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sensor_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    dim = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .select(
            F.format_string("VH_%05d", F.col("c_custkey")).alias("vid"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation_name"),
        )
    )
    enriched = enrich_stream(stream, dim, "vehicle_id", "vid").select(
        "ts", "vehicle_id", "sensor_type", "value", "mktsegment", "nation_name"
    )
    return to_memory(enriched)[1]


# ---------------------------------------------------------------------------
# Registered streaming query #5: watermark-bounded streaming dedup. State
# holds one entry per key seen within the watermark horizon (older keys
# evict — the property that keeps this viable at 100 TB). Only the key
# columns are emitted, so the result is deterministic regardless of which
# physical row of a duplicate group arrives first. Over the driver's
# single-file bounded stream everything lands in one micro-batch (nothing
# evicts mid-stream), so the output is exactly DISTINCT(vehicle_id,
# sensor_type); in a multi-batch replay a key recurring more than the
# horizon apart would re-emit — that is the documented operator semantics,
# not a bug.
# ---------------------------------------------------------------------------
_ST5_ORACLE = (
    SENSOR_ORACLE_CTE
    + """
SELECT DISTINCT vehicle_id, sensor_type FROM sensor_quality_checked
"""
)


def _assert_single_data_batch(q: StreamingQuery, query: str) -> None:
    """Pin the single-micro-batch assumption the oracle parity of st3 and
    st5-st7 rests on: over the driver's one-file bounded stream, availableNow
    must land ALL input in ONE micro-batch (st5 would re-emit keys past the
    watermark horizon across batches; st6's update-mode sink would hold
    one row per key per update). If the source ever splits (multiple glob
    matches, changed batching), fail loudly here instead of hash-failing
    at the driver with no explanation."""
    n = data_batches(q)
    if n != 1:
        raise RuntimeError(
            f"{query}'s bounded stream split into {n} data micro-batches; "
            "its oracle parity assumes exactly one"
        )


@register(
    "st5_streaming_dedup",
    oracle=_ST5_ORACLE,
    doc="§2.7 dropDuplicatesWithinWatermark: bounded-state streaming dedup",
)
def st5_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sensor_stream(spark, sf_dir)
    deduped = dedup_stream(
        stream, keys=("vehicle_id", "sensor_type"), watermark="30 minutes"
    ).select("vehicle_id", "sensor_type")
    q, out = to_memory(deduped)
    _assert_single_data_batch(q, "st5")
    return out


# ---------------------------------------------------------------------------
# Registered streaming query #6: the custom stateful operator
# (applyInPandasWithState, streaming/stateful.py) — per-vehicle running
# totals carried in one compact state row per key. The registered
# projection keeps only the exactly-deterministic columns (count,
# last-seen event time); the running double sum stays internal because
# float accumulation order across state updates is implementation-defined
# (its batch twin is asserted in tests/test_stateful.py). Over the
# driver's single-file bounded stream each vehicle emits exactly once, so
# the update-mode sink holds one row per vehicle ≡ the batch aggregate.
# ---------------------------------------------------------------------------
_ST6_ORACLE = (
    SENSOR_ORACLE_CTE
    + """
SELECT vehicle_id,
       count(*) AS running_count,
       max(ts) AS last_seen
FROM sensor_quality_checked
GROUP BY vehicle_id
"""
)


@register(
    "st6_stateful_running_totals",
    oracle=_ST6_ORACLE,
    doc="§2.7/§2.8 applyInPandasWithState custom stateful operator",
)
def st6_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stateful import running_vehicle_totals

    q, out = to_memory(running_vehicle_totals(sensor_stream(spark, sf_dir)), "update")
    _assert_single_data_batch(q, "st6")
    return out.select("vehicle_id", "running_count", "last_seen")


# ---------------------------------------------------------------------------
# Registered streaming query #7: watermarked stream-stream interval join —
# the last §2.7 join shape (st4 covers stream-static): error readings
# joined to the SAME vehicle's click readings from the preceding hour.
# Both sides carry a watermark and the join condition bounds the time
# range, so each side's state evicts once the other side's watermark
# passes its horizon + lookback — bounded state, the property that makes
# stream-stream joins viable at 100 TB (unbounded-state joins are the
# classic production OOM). Inner join in append mode: every matched pair
# is emitted exactly once when both rows have arrived, so the bounded
# single-file replay is deterministic and equals the batch self-join the
# oracle states.
# ---------------------------------------------------------------------------
_ST7_LOOKBACK_MIN = 60
_ST7_ORACLE = (
    SENSOR_ORACLE_CTE
    + f"""
SELECT a.vehicle_id,
       a.ts AS error_ts, a.value AS error_value,
       b.ts AS click_ts, b.value AS click_value
FROM sensor_quality_checked a
JOIN sensor_quality_checked b
  ON a.vehicle_id = b.vehicle_id
 AND a.sensor_type = 'error' AND b.sensor_type = 'click'
 AND b.ts BETWEEN a.ts - INTERVAL {_ST7_LOOKBACK_MIN} MINUTE AND a.ts
"""
)


@register(
    "st7_stream_stream_join",
    oracle=_ST7_ORACLE,
    doc="§2.7 watermarked stream-stream interval join (bounded state)",
)
def st7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    err = (
        sensor_stream(spark, sf_dir)
        .filter(F.col("sensor_type") == "error")
        .select(
            "vehicle_id",
            F.col("ts").alias("error_ts"),
            F.col("value").alias("error_value"),
        )
        .withWatermark("error_ts", "30 minutes")
    )
    clk = (
        sensor_stream(spark, sf_dir)
        .filter(F.col("sensor_type") == "click")
        .select(
            F.col("vehicle_id").alias("click_vehicle"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    joined = err.join(
        clk,
        (F.col("vehicle_id") == F.col("click_vehicle"))
        & (
            F.col("click_ts")
            >= F.col("error_ts") - F.expr(f"INTERVAL {_ST7_LOOKBACK_MIN} MINUTES")
        )
        & (F.col("click_ts") <= F.col("error_ts")),
    ).select("vehicle_id", "error_ts", "error_value", "click_ts", "click_value")
    q, out = to_memory(joined)
    _assert_single_data_batch(q, "st7")
    return out


# ---------------------------------------------------------------------------
# Registered streaming query #8: INCREMENTAL ROLLUP MAINTENANCE under
# streaming — the st-side of a17 (operators/sketches.py). Each micro-batch
# aggregates ONLY its own rows into the mergeable per-group state
# (count/Σq/Σq² int64, min/max ts, HLL vehicle sketch) and writes those
# state rows — O(|groups|) per batch — to a state store; the final answer
# merges state rows only. No batch ever rescans earlier input, which is
# the property that makes a continuously-maintained 100 TB rollup
# affordable (the reference instead recomputes its analytics tables from
# raw data per run, SensorDataAnalytics.scala:40-44).
#
# Unlike st1-st7 (single-file bounded streams pinned to ONE micro-batch),
# st8 deliberately splits the input into several files (write_slices) and
# streams them maxFilesPerTrigger=1, then RAISES unless >= 2 data batches
# ran — a single-batch run would silently certify. So the driver's hash row
# certifies the cross-batch merge path, not a degenerate single-batch
# run. Oracle = the full recompute (A17's), so any double-count /
# dropped-group / sketch-union regression across batch boundaries fails
# the gate.
# ---------------------------------------------------------------------------
@register(
    "st8_streaming_incremental_rollup",
    oracle=A17_ORACLE,
    doc="§2.7/A17: foreachBatch incremental rollup — per-batch delta states merged ≡ full recompute",
)
def st8_streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("iotx_st8_") as tmp:
        in_dir = os.path.join(tmp, "in")
        state_dir = os.path.join(tmp, "state")
        # ts round-trips through the slice rewrite unchanged: the stream
        # reader re-normalizes from the actual footer type
        ev = load_table(spark, sf_dir, "events")
        write_slices(ev, "event_id", in_dir, range(_ST8_N_SPLITS))
        stream = sensor_stream(
            spark, in_dir, glob="*.parquet", max_files_per_trigger=1
        )

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # delta state only — one tiny row group per (batch, sensor_type)
            write_epoch(_partial_state(batch_df), epoch_id, state_dir)

        q = run_available_now(
            stream.writeStream.foreachBatch(process_batch).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
        )
        n = data_batches(q)
        if n < 2:
            raise RuntimeError(
                f"st8 needs >=2 data micro-batches to certify the cross-batch "
                f"merge; got {n}"
            )

        merged = merge_states(spark.read.parquet(state_dir).drop("epoch_id"))
        # |sensor_type| rows — bounded
        return collect_local(finalize_rollup(merged, quality_checked(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Registered streaming query #9: m17's streaming twin — alert-incident
# grouping as watermarked SESSION WINDOWS over the anomaly subset.
# Consecutive anomalies per (vehicle, sensor_type) within the 60-min
# cooldown gap collapse into one incident whose state finalizes (and
# evicts) once the watermark passes its end — the alert storm is
# suppressed IN FLIGHT, not in a nightly batch. The anomaly filter runs
# before the stateful operator, so session state is alert-rate-sized.
# Oracle = the m17 gap-sessionization SQL with streaming semantics
# mirrored exactly (split on diff >= gap — Spark sessions are half-open;
# emit only sessions the final watermark closed), the st2 pattern — with
# one filter-specific subtlety: the anomaly filter runs BEFORE
# withWatermark, so the watermark advances on anomaly event times only,
# and the oracle's closure bound is max(anomaly ts), not max(ts).
# ---------------------------------------------------------------------------
_ST9_GAP_MIN = 60
_ST9_WM_MIN = 30

_ST9_ORACLE = (
    SENSOR_ORACLE_CTE
    + f"""
, a AS (
  SELECT vehicle_id, sensor_type, ts, anomaly_score
  FROM sensor_quality_checked WHERE anomaly_score > 0
),
x AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL {_ST9_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM a
  WINDOW w AS (PARTITION BY vehicle_id, sensor_type ORDER BY ts)
),
g AS (
  SELECT *, sum(is_new) OVER (PARTITION BY vehicle_id, sensor_type
    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
),
sess AS (
  SELECT vehicle_id, sensor_type,
         min(ts) AS incident_start,
         max(ts) + INTERVAL {_ST9_GAP_MIN} MINUTE AS incident_end,
         count(*) AS n_alerts,
         round(max(anomaly_score), 6) AS max_anomaly_score
  FROM g GROUP BY vehicle_id, sensor_type, sid
)
SELECT vehicle_id, sensor_type, incident_start, incident_end,
       n_alerts, max_anomaly_score
FROM sess
WHERE incident_end <= (SELECT max(ts) - INTERVAL {_ST9_WM_MIN} MINUTE
                       FROM a)
"""
)


@register(
    "st9_streaming_alert_incidents",
    oracle=_ST9_ORACLE,
    doc="§2.7/m17: in-flight alert-incident grouping via session windows",
)
def st9_streaming_alert_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sensor_stream(spark, sf_dir).filter(F.col("anomaly_score") > 0)
    agg = (
        stream.withWatermark("ts", f"{_ST9_WM_MIN} minutes")
        .groupBy(
            F.session_window("ts", f"{_ST9_GAP_MIN} minutes").alias("sw"),
            "vehicle_id",
            "sensor_type",
        )
        .agg(
            F.count("*").alias("n_alerts"),
            fround(F.max("anomaly_score"), 6).alias("max_anomaly_score"),
        )
        .select(
            "vehicle_id",
            "sensor_type",
            F.col("sw.start").alias("incident_start"),
            F.col("sw.end").alias("incident_end"),
            "n_alerts",
            "max_anomaly_score",
        )
    )
    return to_memory(agg)[1]


# ---------------------------------------------------------------------------
# Registered streaming query #10: a21's streaming twin — continuous
# QUANTILE maintenance through the mergeable fixed-bin histogram state.
# Exact quantiles are not mergeable, so a21 keeps per-group (bin, count)
# rows as its state; st10 runs that maintenance as a stream: each
# micro-batch bins its rows against the FIXED calibration domain and
# writes its own (sensor_type, bin) count delta as its epoch, and the
# final quantiles
# finalize from the merged counts alone. The calibration (bin domain)
# must be shared by every delta — in production it comes from a
# historical calibration table; here it is one bounded 2-value aggregate
# over the corpus. Oracle = a21's one-pass recompute: a binning drift,
# dropped epoch, double-counted replay or cum/total window bug shifts a
# quantile or a count and fails the hash gate.
#
# The flow crosses a REAL stop/restart boundary (VERDICT r6 demand #5):
# the first query is kill()ed mid-stream (stop() while unconsumed input
# remains), then — before the restart — the state table is torn by
# appending a partial, wrong count partition under the NEXT uncommitted
# epoch id (read from the checkpoint's commits log), simulating a crash
# that died between the foreachBatch state write and the checkpoint
# commit. The restarted query must (a) resume the file-source offsets
# without re-reading phase-1 files (a re-read double-counts and fails
# the hash gate), and (b) assign its first batch the torn epoch's id so
# the dynamic partition overwrite replaces the torn partition wholesale
# (a leftover torn row shifts a count and fails the gate). The torn
# write is deterministic where a raw kill is racy: the crash's
# externally visible artifacts (committed checkpoint prefix + partial
# uncommitted state) are constructed exactly, so the recovery claim is
# proven on every run, not only when the kill happens to land mid-batch.
# Phase 1 is the one run here that does not use the availableNow trigger:
# it must be stopped while input is still unconsumed.
# ---------------------------------------------------------------------------


@register(
    "st10_streaming_histogram_rollup",
    oracle=A21_ORACLE,
    doc="§2.7/A21: foreachBatch mergeable histogram-quantile state — per-batch deltas merged ≡ one-pass recompute",
)
def st10_streaming_histogram_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    with scratch_dir("iotx_st10_") as tmp:
        in_dir = os.path.join(tmp, "in")
        state_dir = os.path.join(tmp, "state")
        ckpt_dir = os.path.join(tmp, "ckpt")
        ev = load_table(spark, sf_dir, "events")
        # phase 1 gets slices [0, N-1); the last slice arrives only after the
        # kill, so the restarted query ALWAYS has fresh input to prove the
        # offset recovery on
        write_slices(ev, "event_id", in_dir, range(_ST8_N_SPLITS - 1))

        # the shared bin domain: one 2-value aggregate (bounded by
        # construction); every batch must bin against the SAME domain or the
        # counts are not mergeable
        cal = (
            quality_checked(spark, sf_dir)
            .agg(F.min("value").alias("dmin"), F.max("value").alias("dmax"))
            .collect()[0]
        )
        if cal.dmin is None:  # empty/all-NULL corpus: no quantiles to
            # maintain — return empty with the stable schema (a21's
            # lazy path does the same) instead of float(None) crashing
            return spark.createDataFrame(
                [],
                "sensor_type string, n_rows long, "
                + ", ".join(f"{name}_lo double" for name, _ in _A21_PS),
            )
        dmin, dmax = float(cal.dmin), float(cal.dmax)
        width = (dmax - dmin) / _A21_NBINS
        bin_ = (
            F.lit(0)
            if dmax == dmin
            else F.least(
                F.floor((F.col("value") - F.lit(dmin)) / F.lit(width)),
                F.lit(_A21_NBINS - 1),
            ).cast("int")
        )

        stream = sensor_stream(
            spark, in_dir, glob="*.parquet", max_files_per_trigger=1
        )

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            delta = (
                batch_df.filter(F.col("value").isNotNull())  # see a21:
                # NULL bins diverge cross-engine in the cum window
                .withColumn("bin", bin_)
                .groupBy("sensor_type", "bin")
                .agg(F.count("*").alias("cnt"))
                .localCheckpoint()  # one computation: counted AND written
            )
            if delta.count() == 0:
                # a replay that produced zero post-filter rows (sparse or
                # NULL-heavy corpora) must still replace a torn write
                clear_epoch(epoch_id, state_dir)
                return
            write_epoch(delta, epoch_id, state_dir)

        # ---- phase 1: run continuously, then KILL the query mid-stream ----
        q1 = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        deadline = time.monotonic() + 120.0
        while data_batches(q1) < 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        n1 = data_batches(q1)
        q1.stop()  # the kill: the last slice has not even been written yet
        if n1 < 1:
            raise RuntimeError("st10 phase 1 processed no data batch before kill")

        # ---- simulate the crash artifact: a torn, uncommitted state epoch ----
        # the next batch id = newest entry in the checkpoint's commits log + 1
        # (batch ids are consecutive; the restart reuses this id for its first
        # batch, committed or not)
        commits = [
            int(f)
            for f in os.listdir(os.path.join(ckpt_dir, "commits"))
            if f.isdigit()
        ]
        torn_epoch = (max(commits) + 1) if commits else 0
        (
            spark.createDataFrame(
                [("__torn__", 0, 999_999), ("temperature", 0, 1)],
                "sensor_type string, bin int, cnt long",
            )
            .withColumn("epoch_id", F.lit(torn_epoch))
            .write.mode("append")
            .partitionBy("epoch_id")
            .parquet(state_dir)
        )

        # ---- phase 2: deliver the last slice, restart from the checkpoint ----
        write_slices(ev, "event_id", in_dir, [_ST8_N_SPLITS - 1])
        q2 = run_available_now(
            stream.writeStream.foreachBatch(process_batch).option(
                "checkpointLocation", ckpt_dir
            )
        )
        n2 = data_batches(q2)
        if n2 < 1 or n1 + n2 < 2:
            raise RuntimeError(
                f"st10 needs data batches on BOTH sides of the restart boundary "
                f"to certify recovery; got {n1} before / {n2} after"
            )
        # the restarted batch must have replaced the torn partition wholesale —
        # a surviving sentinel means dynamic overwrite failed (the hash gate
        # would also fail, via the extra sensor_type group; this check names
        # the cause)
        torn_left = (
            spark.read.parquet(state_dir)
            .filter(F.col("sensor_type") == "__torn__")
            .count()
        )
        if torn_left:
            raise RuntimeError(
                f"torn epoch {torn_epoch} survived the restart: dynamic "
                f"partition overwrite did not replace the crashed state write"
            )

        merged = (
            spark.read.parquet(state_dir)
            .drop("epoch_id")
            .groupBy("sensor_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        cum = F.sum("cnt").over(
            Window.partitionBy("sensor_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        total = F.sum("cnt").over(Window.partitionBy("sensor_type"))
        hist = merged.withColumn("cum", cum).withColumn("total", total)
        qb = hist.groupBy("sensor_type").agg(
            F.max("total").alias("n_rows"),
            *[
                F.min(
                    F.when(
                        F.col("cum") >= F.ceil(F.lit(p) * F.col("total")),
                        F.col("bin"),
                    )
                ).alias(f"{name}_bin")
                for name, p in _A21_PS
            ],
        )
        result = qb.select(
            "sensor_type",
            "n_rows",
            *[
                fround(F.lit(dmin) + F.col(f"{name}_bin") * F.lit(width), 6).alias(
                    f"{name}_lo"
                )
                for name, _ in _A21_PS
            ],
        )
        return collect_local(result)  # |sensor_type| rows — bounded


# ---------------------------------------------------------------------------
# ST11 — STREAMING COUNT-MIN SKETCH MAINTENANCE (a22's streaming twin,
# closing the mergeable-state triangle: exact aggregates st8, quantile
# histograms st10, frequency sketches st11). Each micro-batch reduces to
# its own bounded CMS delta — ≤ depth·width (depth, bucket, cnt) rows no
# matter the batch size — written as its epoch. The serving-side
# sketch is the counter-wise SUM across epochs; CMS is linear, so
# merged-from-deltas must equal the one-pass sketch EXACTLY — that
# equality is the hashed merge_consistent certificate, and the top-k
# estimates are probed from the MERGED sketch, so the external oracle
# (a22's, verbatim: it rebuilds the sketch in SQL from raw events)
# value-checks the whole maintenance path, not just a boolean.
#
# Scale: the stream's state per epoch is corpus-size-free (bounded
# sketch rows); merging reads only sketch partitions, never raw
# history. This is exactly how a production pipeline serves "how often
# did key X appear this month" without a per-key state store: per-epoch
# sketch parquet, summed at query time or compacted like a17c.
# ---------------------------------------------------------------------------
@register(
    "st11_streaming_cms_maintenance",
    # a22's oracle VERBATIM: it rebuilds the sketch in SQL from raw
    # events, so the streamed per-epoch maintenance is value-checked
    # end-to-end, not just boolean-checked
    oracle=_A22_ORACLE,
    doc=(
        "§2.7/A22: per-micro-batch CMS deltas (epoch-keyed overwrite) "
        "merged ≡ one-pass sketch; heavy-hitter report value-checked by "
        "a22's oracle"
    ),
)
def st11_streaming_cms_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    with scratch_dir("iotx_st11_") as tmp:
        in_dir = os.path.join(tmp, "in")
        state_dir = os.path.join(tmp, "state")
        ev = load_table(spark, sf_dir, "events")
        if ev.filter(F.col("user_id").isNotNull()).isEmpty():
            # empty / all-NULL-key corpus: every delta would be empty, no
            # state epoch would ever be written, and the merged read
            # below would raise PATH_NOT_FOUND — while the oracle (and
            # a22) return zero rows. Return the stable-schema empty
            # report instead.
            return spark.createDataFrame(
                [],
                "user_id long, true_count long, cms_estimate long, "
                "overestimate long, merge_consistent boolean",
            )
        write_slices(ev, "event_id", in_dir, range(_ST8_N_SPLITS))
        stream = events_file_stream(
            spark, in_dir, glob="*.parquet", max_files_per_trigger=1
        )

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            delta = (
                cms_table(batch_df.filter(F.col("user_id").isNotNull()))
                .localCheckpoint()  # one computation: emptiness-checked
                # AND written (isEmpty would otherwise run the batch
                # aggregation once and the write a second time)
            )
            if delta.isEmpty():
                clear_epoch(epoch_id, state_dir)
                return
            write_epoch(delta, epoch_id, state_dir)

        q = run_available_now(
            stream.writeStream.foreachBatch(process_batch).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
        )
        # >=2 data batches certify the cross-epoch sketch merge across
        # epochs; exactly 1 (possible on a tiny or hash-skewed corpus
        # where every row lands in one xxhash64 slice) still certifies
        # the degenerate case — merge of one delta must equal one-pass —
        # so fall back instead of raising. 0 is unreachable here (the
        # non-empty guard above ensures at least one slice has rows), so
        # it stays a loud invariant failure.
        n = data_batches(q)
        if n < 1:
            raise RuntimeError(
                f"st11 saw a non-empty input yet no data micro-batch "
                f"arrived; got {n}"
            )

        merged = (
            spark.read.parquet(state_dir)
            .groupBy("depth", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        evb = ev.filter(F.col("user_id").isNotNull())
        consistent = cms_merge_consistent(cms_table(evb), merged)
        # ≤ _CMS_TOPK rows — bounded
        return collect_local(cms_heavy_hitter_report(evb, merged, consistent))


# ---------------------------------------------------------------------------
# ST12 — STREAMING SCD2 MAINTENANCE (adv14's streaming twin, extending
# the mergeable-state family from aggregates/histograms/sketches to
# DIMENSION HISTORY). The snapshot arrives as a stream of micro-batches;
# each batch reconciles against the STATIC dimension (the st4
# stream-static shape: per-key decisions need no cross-batch state
# because a full snapshot carries each key exactly once) and writes its
# history fragment as its epoch.
# Full-snapshot retire semantics are inherently end-of-snapshot facts
# ("key X never arrived"), so the retired pass runs once at snapshot
# close: dim ANTI-JOIN the keys seen across all epochs. The assembled
# history must equal adv14's one-shot batch merge EXACTLY — st12
# registers with adv14's oracle VERBATIM, so the external gate
# value-checks the streamed maintenance row-for-row, not just a boolean.
#
# Scale: each micro-batch shuffles |batch| snapshot rows against the
# dim (or broadcast-joins when the dim fits); fragment writes are
# O(|batch|); the retired pass reads only fragment KEYS, never raw
# history. This is how a production lakehouse ingests dimension
# snapshots that arrive in parts (per-region extracts, paged API
# dumps) without holding the full snapshot in memory — and the nightly
# compaction of epoch fragments is a17c's contract.
# ---------------------------------------------------------------------------
_ST12_SCHEMA = (
    "c_custkey long, acctbal double, valid_from timestamp, "
    "valid_to timestamp, is_current boolean, scd_action string"
)


@register(
    "st12_streaming_scd2_maintenance",
    # adv14's oracle VERBATIM: the streamed per-epoch maintenance plus
    # the end-of-snapshot retired pass must reproduce the batch merge
    oracle=_ADV14_ORACLE,
    doc=(
        "§2.7/ADV14: snapshot streamed in micro-batches, per-epoch SCD2 "
        "fragments (epoch-keyed overwrite) + end-of-snapshot retire "
        "pass ≡ adv14's one-shot batch merge"
    ),
)
def st12_streaming_scd2_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    dim, snap = scd2_inputs(spark, sf_dir)
    if snap.isEmpty():
        if dim.isEmpty():  # empty corpus: stable-schema empty history
            return spark.createDataFrame([], _ST12_SCHEMA)
        # a snapshot stream that delivers nothing retires every dim key —
        # no epochs exist, so the stream/merge machinery has nothing to do
        m = dim.withColumn("in_snap", F.lit(False)).withColumn(
            "bal_new", F.lit(None).cast("double")
        )
        return scd2_history_rows(
            m.select("c_custkey", "in_dim", "in_snap", "bal_old", "bal_new")
        )

    dim = dim.persist()  # consumed once per micro-batch plus the retired
    # pass — persist so the customer parquet is scanned once, not N+1 times
    try:
        with scratch_dir("iotx_st12_") as tmp:
            in_dir = os.path.join(tmp, "in")
            state_dir = os.path.join(tmp, "state")
            write_slices(
                snap.select("c_custkey", "bal_new"),
                "c_custkey",
                in_dir,
                range(_ST8_N_SPLITS),
            )
            stream = (
                spark.readStream.schema("c_custkey long, bal_new double")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )

            def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
                mb = (
                    batch_df.withColumn("in_snap", F.lit(True))
                    .join(dim, "c_custkey", "left")
                    .select(
                        "c_custkey",
                        F.coalesce("in_dim", F.lit(False)).alias("in_dim"),
                        "in_snap",
                        "bal_old",
                        "bal_new",
                    )
                )
                # one computation: emptiness-checked AND written
                frag = scd2_history_rows(mb).localCheckpoint()
                if frag.isEmpty():
                    clear_epoch(epoch_id, state_dir)
                    return
                write_epoch(frag, epoch_id, state_dir)

            q = run_available_now(
                stream.writeStream.foreachBatch(process_batch).option(
                    "checkpointLocation", os.path.join(tmp, "ckpt")
                )
            )
            # >=2 data batches certify the cross-epoch history assembly;
            # exactly 1 (a tiny or hash-skewed corpus) certifies the
            # degenerate one-delta case, as in st11; 0 on a non-empty
            # snapshot is a loud invariant failure
            n = data_batches(q)
            if n < 1:
                raise RuntimeError(
                    f"st12 saw a non-empty input yet no data micro-batch "
                    f"arrived; got {n}"
                )

            frags = spark.read.parquet(state_dir).select(
                "c_custkey", "acctbal", "valid_from", "valid_to", "is_current",
                "scd_action",
            )
            # full-snapshot retire semantics: keys the stream NEVER
            # delivered. Fragment keys only — the anti-join probe is
            # |snapshot keys|, not history rows
            seen = frags.select("c_custkey").distinct()
            retired_m = (
                dim.join(seen, "c_custkey", "left_anti")
                .withColumn("in_snap", F.lit(False))
                .withColumn("bal_new", F.lit(None).cast("double"))
            )
            retired = scd2_history_rows(
                retired_m.select(
                    "c_custkey", "in_dim", "in_snap", "bal_old", "bal_new"
                )
            )
            # ~1.1x |customers| rows at gate SFs
            return collect_local(frags.unionByName(retired))
    finally:
        dim.unpersist()


# ---------------------------------------------------------------------------
# ST13 — STREAMING JOIN-VIEW MAINTENANCE (a23's streaming twin,
# completing the mergeable-state correspondence: a17↔st8 exact
# aggregates, a21↔st10 histograms, a22↔st11 sketches, adv14↔st12
# dimension history, a23↔st13 join views). Fact rows (lineitem) arrive
# in micro-batches; each batch joins the STATIC dimension (orders —
# the st4 stream-static shape) and reduces to its own partial state:
# O(|groups-in-batch|) (ship_month, priority, n, DECIMAL rev) rows
# written as its epoch. The serving view is the groupBy-sum across
# epochs — exact, because the revenue partials are decimal and addition
# is order-independent. Registers with a23's oracle VERBATIM (the full
# join recompute), so the external gate value-checks the streamed
# maintenance end-to-end.
#
# Scale: per-epoch state is group-bounded regardless of batch size;
# the merge reads only state partitions, never raw history — at 100 TB
# this is how a gold table stays fresh under continuous fact ingest,
# with a17c-style compaction bounding the epoch count.
# ---------------------------------------------------------------------------
@register(
    "st13_streaming_join_view",
    oracle=A23_ORACLE,
    doc=(
        "§2.7/A23: per-micro-batch join-view partial states (epoch-keyed "
        "overwrite) merged ≡ full join recompute; a23's oracle verbatim"
    ),
)
def st13_streaming_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("iotx_st13_") as tmp:
        in_dir = os.path.join(tmp, "in")
        state_dir = os.path.join(tmp, "state")
        o = track(
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .persist()
        )
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
        )
        if l.isEmpty():
            return spark.createDataFrame(
                [],
                "ship_month timestamp, o_orderpriority string, "
                "n_items bigint, revenue double",
            )
        write_slices(l, "l_orderkey", in_dir, range(_ST8_N_SPLITS))
        stream = (
            spark.readStream.schema(
                "l_orderkey long, l_shipdate timestamp, "
                "l_extendedprice double, l_discount double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            state = (
                batch_df.join(o, batch_df["l_orderkey"] == o["o_orderkey"])
                .groupBy(
                    F.date_trunc("month", "l_shipdate").alias("ship_month"),
                    "o_orderpriority",
                )
                .agg(
                    F.count("*").alias("n"),
                    F.sum(_j_disc_price()).alias("rev"),  # DECIMAL partial
                )
                .localCheckpoint()  # one computation: emptiness-checked
                # AND written
            )
            if state.isEmpty():
                clear_epoch(epoch_id, state_dir)
                return
            write_epoch(state, epoch_id, state_dir)

        q = run_available_now(
            stream.writeStream.foreachBatch(process_batch).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
        )
        # >=2 data batches certify the cross-epoch state merge; exactly 1
        # certifies the degenerate one-delta case, as in st11; 0 on a
        # non-empty input is a loud invariant failure
        n = data_batches(q)
        if n < 1:
            raise RuntimeError(
                f"st13 saw a non-empty input yet no data micro-batch "
                f"arrived; got {n}"
            )

        merged = (
            spark.read.parquet(state_dir)
            .groupBy("ship_month", "o_orderpriority")
            .agg(
                F.sum("n").cast("bigint").alias("n_items"),
                F.sum("rev").alias("rev"),
            )
        )
        result = merged.select(
            "ship_month",
            "o_orderpriority",
            "n_items",
            fround(F.col("rev").cast("double"), 2).alias("revenue"),
        )
        return collect_local(result)  # |months|x|priorities| rows — bounded


# ---------------------------------------------------------------------------
# ST14 — STREAMING DATASET-CARD MAINTENANCE (dp16's streaming twin,
# extending the mergeable-state family from aggregates / histograms /
# sketches / dimension history / join views to the corpus AUDIT CARD).
# The corpus arrives as micro-batches; each batch writes three
# epoch-keyed state fragments matching dp16's mergeable decomposition —
# additive per-source counters, distinct (source, text) keys (the exact
# COUNT-DISTINCT state), and per-(source, lang) counts — and the final
# card assembles from merged state via the SAME card_assemble the batch
# operator uses, so state ⊕ delta ≡ one-pass holds by construction and
# the external gate value-checks it against dp16's oracle VERBATIM.
#
# Scale: counter and lang fragments are |sources|- / |sources×langs|-
# sized per epoch; the text-key fragment is the irreducible state of an
# EXACT distinct count (|distinct texts| keys — production would keep
# it as a bucketed table; an approximate card would swap in a17's HLL
# sketch state and shrink it to |sources|×sketch). a17c's compaction
# contract bounds the epoch count.
# ---------------------------------------------------------------------------

_ST14_EMPTY_SCHEMA = (
    "source string, doc_count bigint, token_sum bigint, "
    "token_share_ppm bigint, distinct_texts bigint, exact_dup_ppm bigint, "
    "n_langs bigint, top_lang string, top_lang_docs bigint, "
    "high_quality_docs bigint, null_text_docs bigint"
)


@register(
    "st14_streaming_dataset_card",
    oracle=_DP16_ORACLE,
    doc=(
        "§2.7/DP16: per-micro-batch card-state fragments (epoch-keyed "
        "overwrite) merged ≡ one-pass dataset card; dp16's oracle "
        "verbatim"
    ),
)
def st14_streaming_dataset_card(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    with scratch_dir("iotx_st14_") as tmp:
        in_dir = os.path.join(tmp, "in")
        cnt_dir = os.path.join(tmp, "state_counters")
        txt_dir = os.path.join(tmp, "state_textkeys")
        lng_dir = os.path.join(tmp, "state_langs")
        docs = load_table(spark, sf_dir, "documents").select(
            "source", "lang", "text", "doc_id"
        )
        if docs.isEmpty():
            return spark.createDataFrame([], _ST14_EMPTY_SCHEMA)
        write_slices(docs, "doc_id", in_dir, range(_ST8_N_SPLITS))
        stream = (
            spark.readStream.schema(
                "source string, lang string, text string, doc_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

        # counts non-empty PROJECTED batches, which data_batches (input
        # rows) does not; counting in the callback also avoids the
        # recentProgress ring buffer's cap if the split count ever grows
        n_batches = 0

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            nonlocal n_batches
            d = card_project(batch_df).localCheckpoint()  # one
            # computation feeding the emptiness check + three fragments
            if d.isEmpty():
                clear_epoch(epoch_id, cnt_dir, txt_dir, lng_dir)
                return
            n_batches += 1
            write_epoch(card_counters(d), epoch_id, cnt_dir)
            write_epoch(card_text_keys(d), epoch_id, txt_dir)
            write_epoch(card_lang_counts(d), epoch_id, lng_dir)

        run_available_now(
            stream.writeStream.foreachBatch(process_batch).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            )
        )
        # ≥2 data batches certify the cross-epoch merge; exactly 1 still
        # certifies the degenerate one-delta case (as in st11-st13); 0 on
        # a non-empty input is a loud invariant failure
        if n_batches < 1:
            raise RuntimeError(
                f"st14 saw a non-empty input yet no data micro-batch "
                f"arrived; got {n_batches}"
            )

        # txt_dir needs special handling the other two state dirs don't:
        # a batch whose rows ALL carry NULL text writes an EMPTY text-key
        # fragment (zero part files), and an all-NULL corpus leaves the
        # dir absent or data-less — schema inference would raise
        # UNABLE_TO_INFER_SCHEMA where dp16 returns an empty card.
        # Explicit schema + existence guard restore the batch twin's
        # semantics; cnt/lng fragments are non-empty whenever a batch has
        # rows, so only counters' guard matters for the pathological
        # zero-fragment case.
        if os.path.isdir(txt_dir):
            text_keys = (
                spark.read.schema("source string, text string, epoch_id int")
                .parquet(txt_dir)
                .drop("epoch_id")
            )
        else:
            text_keys = spark.createDataFrame([], "source string, text string")
        result = card_assemble(
            spark.read.parquet(cnt_dir).drop("epoch_id"),
            text_keys,
            spark.read.parquet(lng_dir).drop("epoch_id"),
        )
        return collect_local(result)  # |sources| rows — bounded


# ---------------------------------------------------------------------------
# Registered streaming query #15 — STATEFUL SESSIONS WITH TIMEOUT
# EVICTION (streaming/sessions.py): the production form of the custom
# stateful operator. st6 documents that production would bound its
# per-key state with GroupStateTimeout; st15 IS that form —
# applyInPandasWithState + EventTimeTimeout, where the watermark passing
# a key's gap horizon EVICTS its state row (emitting the closed
# session), so state is bounded by the keys active inside one gap
# horizon instead of every key ever seen. That bound is the property
# that makes per-key state viable at 100 TB.
#
# The flow replays the events table as FOUR deterministic micro-batches:
# two time-ranged slices split at the corpus midpoint (sessions straddle
# the boundary, so the gate certifies cross-batch state carry), then two
# far-future single-event sentinel files (reserved user_ids -1/-2) whose
# only job is to push the watermark past every real key's horizon — the
# first advances the watermark, the second triggers a batch in which
# every surviving real key fires its timeout callback. Sentinel keys
# themselves never emit (their own timeouts stay beyond the final
# watermark) and are filtered out regardless. File order is pinned by
# explicit mtimes (the file source processes oldest-first), and each
# batch's time-range floor exceeds the prior batch's watermark, so no
# event is ever late and setTimeoutTimestamp is always legal.
#
# The run RAISES (RuntimeError — python -O strips asserts) unless >= 4
# data batches ran, every real user's final session was emitted BY THE
# TIMEOUT PATH (state eviction actually exercised, once per key), and
# at least one session closed in-batch (the gap-split path exercised).
# Oracle = the batch gap-sessionization recompute (adv1's shape, 60 min
# gap), so any dropped/double-emitted/mis-merged session across batch
# or state-machine boundaries fails the driver's value hash.
# ---------------------------------------------------------------------------
_ST15_GAP_MIN = 60  # keep in sync with sessions.GAP_MIN (pinned by test)
_ST15_ORACLE = f"""
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL {_ST15_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM x
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""


@register(
    "st15_stateful_session_eviction",
    oracle=_ST15_ORACLE,
    doc=(
        "§2.7/§2.8 stateful sessions with EventTimeTimeout eviction — "
        "state bounded to the active-key set"
    ),
)
def st15_stateful_session_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sessions import GAP_MIN, sessionize_with_eviction

    if GAP_MIN != _ST15_GAP_MIN:
        raise RuntimeError("st15 oracle gap diverged from sessions.GAP_MIN")
    with scratch_dir("iotx_st15_") as tmp:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b.lo is None:
            raise RuntimeError(
                "st15 certifies cross-batch state carry and eviction; an "
                "empty events table cannot exercise either path"
            )
        if b.lo == b.hi:  # lo == hi makes slice 0 (ts < mid) empty, and
            # the >=4-data-micro-batches check below would blame
            # batching; name the degenerate corpus instead
            raise RuntimeError(
                "st15 needs >=2 distinct event times to split a two-batch "
                "replay; the events table has a single timestamp"
            )
        mid = b.lo + (b.hi - b.lo) / 2
        gap = timedelta(minutes=GAP_MIN)
        sent1 = b.hi + gap + timedelta(hours=1)
        sent2 = sent1 + gap + timedelta(hours=1)
        batches = [
            ev.filter(F.col("ts") < F.lit(mid)),
            ev.filter(F.col("ts") >= F.lit(mid)),
            spark.createDataFrame([(-1, sent1)], "user_id long, ts timestamp"),
            spark.createDataFrame([(-2, sent2)], "user_id long, ts timestamp"),
        ]
        t0 = time.time()
        for i, sl in enumerate(batches):
            part_dir = os.path.join(tmp, f"part{i}")
            sl.coalesce(1).write.parquet(part_dir)
            parts = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            if len(parts) != 1:
                raise RuntimeError(f"st15 slice {i}: expected 1 file, {parts}")
            dst = os.path.join(in_dir, f"{i:02d}.parquet")
            shutil.move(os.path.join(part_dir, parts[0]), dst)
            # pin the replay order: the file source takes oldest-first,
            # and path order agrees as a tiebreak
            os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withWatermark("ts", "1 second")
        )
        q, out = to_memory(sessionize_with_eviction(stream))
        n = data_batches(q)
        if n < 4:
            raise RuntimeError(
                f"st15 needs >= 4 data micro-batches (2 slices + 2 "
                f"sentinels) to certify cross-batch state carry and "
                f"watermark-driven eviction; got {n}"
            )
        real = F.col("user_id") >= 0
        n_users = ev.select("user_id").distinct().count()
        n_evicted = out.filter(real & F.col("via_timeout")).count()
        if n_evicted != n_users:
            raise RuntimeError(
                f"st15 eviction certificate: every real user's final "
                f"session must close via the timeout path exactly once "
                f"({n_evicted} evictions for {n_users} users)"
            )
        if out.filter(real & ~F.col("via_timeout")).count() < 1:
            raise RuntimeError(
                "st15 gap certificate: no session closed in-batch — the "
                "gap-split path never ran"
            )
        # the memory sink's rows live in the session, so the returned
        # frame needs none of the scratch files; via_timeout is the
        # certificate column, not part of the compared sessionization
        # surface
        return out.filter(real).select(
            "user_id", "session_id", "session_start", "session_end", "n_events"
        )
