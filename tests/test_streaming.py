"""Streaming semantics tests (SURVEY.md §2.7): the foreachBatch pipeline's
accumulated output is validated against the batch pipeline on identical
input — including a MULTI-batch run (maxFilesPerTrigger=1 over a split
copy of events) where per-batch windows must still sum to the batch totals
and cross-batch watermarked windows must equal the batch windows exactly."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.sources.sensor_view import quality_checked
from iot_big_data_engineering_spark.streaming.pipeline import (
    run_microbatch_pipeline,
    run_windowed_stream_to_memory,
    sensor_stream,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """events split into 4 parquet files → 4 micro-batches with
    maxFilesPerTrigger=1."""
    out = str(tmp_path_factory.mktemp("events_split"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(out)
    # drop _SUCCESS etc so the glob picks only data files
    return out


def test_single_batch_pipeline_matches_batch(spark, tmp_path):
    out = str(tmp_path / "stream_out")
    paths = run_microbatch_pipeline(spark, SF_SMOKE, out)
    got_quality = spark.read.parquet(paths["quality"])
    want_quality = quality_checked(spark, SF_SMOKE)
    assert got_quality.count() == want_quality.count()
    # anomaly sink = filtered subset
    got_anom = spark.read.parquet(paths["anomalies"])
    assert got_anom.count() == want_quality.filter(F.col("anomaly_score") > 0).count()


def test_multibatch_quality_rows_match_batch(spark, split_events_dir, tmp_path):
    out = str(tmp_path / "stream_out_mb")
    paths = run_microbatch_pipeline(
        spark, split_events_dir, out, glob="part-*.parquet", max_files_per_trigger=1
    )
    got = spark.read.parquet(paths["quality"])
    want = quality_checked(spark, SF_SMOKE)
    assert got.count() == want.count()
    # row-level equality (order-insensitive): anti-joins empty both ways
    cols = ["ts", "sensor_id", "vehicle_id", "sensor_type", "value"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    # multiple epochs actually ran
    epochs = (
        spark.read.parquet(paths["analytics"]).select("epoch_id").distinct().count()
    )
    assert epochs >= 2


def test_multibatch_per_batch_windows_sum_to_batch_totals(
    spark, split_events_dir, tmp_path
):
    """Per-batch windows (reference semantics) emit partial rows per epoch;
    their record_count must SUM to the true per-window totals."""
    out = str(tmp_path / "stream_out_sum")
    paths = run_microbatch_pipeline(
        spark, split_events_dir, out, glob="part-*.parquet", max_files_per_trigger=1
    )
    got = (
        spark.read.parquet(paths["analytics"])
        .groupBy("window_start", "window_end", "sensor_type")
        .agg(F.sum("record_count").alias("record_count"))
    )
    want = (
        quality_checked(spark, SF_SMOKE)
        .groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(F.count("*").alias("record_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sensor_type",
            "record_count",
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_watermarked_windows_match_batch_counts(spark, split_events_dir):
    """Cross-batch watermarked tumbling windows: every window the stream
    emits must carry exactly the batch count for that window (append mode
    withholds windows the watermark hasn't closed; emitted ones are final)."""
    got = run_windowed_stream_to_memory(
        spark,
        split_events_dir,
        glob="part-*.parquet",
        max_files_per_trigger=1,
    ).select("window_start", "window_end", "sensor_type", "record_count")
    want = (
        quality_checked(spark, SF_SMOKE)
        .groupBy(F.window("ts", "1 minute").alias("w"), "sensor_type")
        .agg(F.count("*").alias("record_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sensor_type",
            "record_count",
        )
    )
    assert got.count() > 0
    # every emitted window is final and equals the batch aggregation
    assert got.exceptAll(want).count() == 0


def test_stream_is_streaming(spark):
    assert sensor_stream(spark, SF_SMOKE).isStreaming


def test_stream_static_enrichment_matches_batch_join(spark, tmp_path):
    """Stream-static broadcast join: streamed events enriched against the
    static customer dim must produce exactly the batch join's rows."""
    from iot_big_data_engineering_spark.sources.tables import load_table
    from iot_big_data_engineering_spark.streaming.pipeline import (
        enrich_stream,
        events_file_stream,
    )

    dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = events_file_stream(spark, SF_SMOKE)
    enriched = enrich_stream(stream, dim, "user_id", "c_custkey")
    assert enriched.isStreaming
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("enriched_out")
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    want_matched = e.join(dim, e.user_id == dim.c_custkey, "inner").count()
    assert got.count() == e.count()  # left join keeps all events
    assert got.filter(F.col("c_mktsegment").isNotNull()).count() == want_matched


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """Feed the SAME events file twice as two micro-batches: the
    watermarked dedup must emit each event_id exactly once."""
    from iot_big_data_engineering_spark.streaming.pipeline import (
        dedup_stream,
        events_file_stream,
    )

    src = str(tmp_path / "dup_src")
    os.makedirs(src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").coalesce(1)
    raw.write.mode("overwrite").parquet(str(tmp_path / "one"))
    data_file = [
        f for f in os.listdir(str(tmp_path / "one")) if f.endswith(".parquet")
    ][0]
    shutil.copy(f"{tmp_path}/one/{data_file}", f"{src}/a.parquet")
    shutil.copy(f"{tmp_path}/one/{data_file}", f"{src}/b.parquet")

    stream = events_file_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    )
    deduped = dedup_stream(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_out")
    n_events = raw.count()
    assert got.count() == n_events, (got.count(), n_events)
    assert got.select("event_id").distinct().count() == n_events


def test_session_windows_match_batch_sessionization(spark, tmp_path):
    """Streaming session windows (5-min gap) processed as two TIME-ORDERED
    micro-batches must equal the same session_window aggregation in batch
    mode — sessions spanning the batch boundary must merge via state.
    (Files must be time-ordered: event-time ordering is a watermark
    precondition; arbitrarily interleaved files would make mid-range data
    late and drop it, in streaming and in any real deployment alike.)"""
    import time as _time

    from iot_big_data_engineering_spark.sources.sensor_view import (
        apply_quality,
        map_events,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import (
        sensor_stream,
        session_window_stream,
    )

    from iot_big_data_engineering_spark.sources.tables import load_table

    # load_table normalizes ts to TimestampType whatever the parquet's
    # physical layout (int64-nanos or TIMESTAMP_NTZ micros)
    raw = load_table(spark, SF_SMOKE, "events")
    median = raw.selectExpr("percentile(unix_micros(ts), 0.5) as m").first().m
    src = str(tmp_path / "timesplit")
    os.makedirs(src)
    for i, part in enumerate(
        (
            raw.filter(F.unix_micros(F.col("ts")) <= median),
            raw.filter(F.unix_micros(F.col("ts")) > median),
        )
    ):
        d = str(tmp_path / f"p{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{d}/{f}", dst)
        # distinct mtimes → the file source processes them in time order
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    stream = sensor_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        session_window_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("session_out")

    batch = apply_quality(map_events(raw))
    want = (
        batch.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "vehicle_id")
        .agg(F.count("*").alias("n_readings"), F.sum("q_int").alias("q_total"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "vehicle_id",
            "n_readings",
            "q_total",
        )
    )
    # append mode emits only watermark-closed sessions; availableNow's
    # final watermark closes everything except sessions still open at the
    # global max ts — every emitted session must match batch exactly
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows, got_rows - want_rows
    assert len(got_rows) >= 0.8 * len(want_rows), (
        len(got_rows),
        len(want_rows),
    )


def test_checkpoint_makes_restart_idempotent(spark, tmp_path):
    """Re-running the pipeline with the SAME checkpoint must process
    nothing new (offsets are committed) — the restart half of the
    exactly-once story; the sink half is idempotent epoch-keyed writes."""
    from iot_big_data_engineering_spark.streaming.pipeline import (
        run_microbatch_pipeline,
    )

    out = str(tmp_path / "ck_out")
    paths = run_microbatch_pipeline(spark, SF_SMOKE, out)
    n1 = spark.read.parquet(paths["quality"]).count()
    # second run, same checkpoint + sinks: zero new rows
    paths2 = run_microbatch_pipeline(spark, SF_SMOKE, out)
    n2 = spark.read.parquet(paths2["quality"]).count()
    assert n1 > 0
    assert n2 == n1, (n1, n2)


def test_st7_is_a_true_stream_stream_join(spark):
    """st7 must execute as a streaming symmetric hash join with watermarks
    on both sides (bounded state) — not get silently batchified. The
    memory-sink result itself is value-checked against the batch
    self-join oracle by test_oracle_parity."""
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st7_stream_stream_join,
    )

    df = st7_stream_stream_join(spark, SF_SMOKE)
    assert df.count() > 0
    # the registered query's memory sink is already drained — pin the
    # streaming-ness on a fresh build of the same join shape: both sides
    # must carry event-time watermarks into the analyzed plan
    from iot_big_data_engineering_spark.streaming.pipeline import (
        sensor_stream,
    )
    from pyspark.sql import functions as F

    err = (
        sensor_stream(spark, SF_SMOKE)
        .filter(F.col("sensor_type") == "error")
        .withWatermark("ts", "30 minutes")
        .select("vehicle_id", F.col("ts").alias("error_ts"))
    )
    clk = (
        sensor_stream(spark, SF_SMOKE)
        .filter(F.col("sensor_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("vehicle_id").alias("cv"), F.col("ts").alias("click_ts")
        )
    )
    j = err.join(
        clk,
        (F.col("vehicle_id") == F.col("cv"))
        & (F.col("click_ts") <= F.col("error_ts")),
    )
    assert j.isStreaming
    plan = j._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan, plan


def test_st8_state_sink_is_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an epoch must leave
    the state store unchanged (epoch-keyed dynamic overwrite), where an
    append sink would double-count the replayed delta."""
    from iot_big_data_engineering_spark.operators.sketches import (
        _partial_state,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import write_epoch

    state_dir = str(tmp_path / "state")
    state = _partial_state(quality_checked(spark, SF_SMOKE).limit(500))

    write_epoch(state, 0, state_dir)
    once = sorted(
        (r.sensor_type, r.n) for r in spark.read.parquet(state_dir).collect()
    )
    write_epoch(state, 0, state_dir)  # replayed epoch
    twice = sorted(
        (r.sensor_type, r.n) for r in spark.read.parquet(state_dir).collect()
    )
    assert once == twice
    # a genuinely NEW epoch still lands alongside
    write_epoch(state, 1, state_dir)
    n_epochs = (
        spark.read.parquet(state_dir).select("epoch_id").distinct().count()
    )
    assert n_epochs == 2


def test_st10_sparse_restart_batches_tolerated(spark, tmp_path):
    """A corpus whose post-kill slices carry only NULL values used to
    raise 'torn epoch survived': the restarted batch had zero
    post-filter rows, dynamic overwrite touched no partitions, and the
    crash sentinel outlived a recovery that actually worked (r7
    ADVICE). The empty epoch is now written explicitly (partition
    cleared), so the strict sentinel check passes."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.sources.tables import load_table
    from iot_big_data_engineering_spark.streaming.pipeline import (
        _ST8_N_SPLITS,
        st10_streaming_histogram_rollup,
    )

    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    sliced = ev.withColumn(
        "value",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(_ST8_N_SPLITS)) == 0,
            F.col("value"),
        ),  # slices 1..N-1 (everything after the first phase-1 file): NULL
    )
    sliced.toPandas().to_parquet(str(tmp_path / "events.parquet"))

    out = st10_streaming_histogram_rollup(spark, str(tmp_path))
    rows = out.collect()
    assert rows, "slice-0 data must survive the merge"
    assert sum(r.n_rows for r in rows) > 0


def test_st11_streamed_cms_matches_batch_invariants(spark):
    """The merged-from-epochs sketch must satisfy CMS's one-sided
    guarantee on every reported key and certify merge consistency (the
    value-level check vs the SQL-rebuilt sketch runs in
    test_oracle_parity)."""
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st11_streaming_cms_maintenance,
    )

    from .conftest import SF_SMOKE

    rows = st11_streaming_cms_maintenance(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.merge_consistent, r
        assert r.overestimate >= 0, r
        assert r.cms_estimate == r.true_count + r.overestimate


def test_st11_on_all_null_user_ids(spark, tmp_path):
    """An events corpus whose user_id is entirely NULL streams real
    input rows but produces only empty sketch deltas; st11 must return
    the stable-schema empty report (matching a22 and the oracle), not
    crash on a never-created state directory (r8 code-review)."""
    import pandas as pd

    from iot_big_data_engineering_spark.sources.tables import load_table
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st11_streaming_cms_maintenance,
    )

    from .conftest import SF_SMOKE

    pdf = load_table(spark, SF_SMOKE, "events").toPandas()
    pdf["user_id"] = pd.array([None] * len(pdf), dtype="Int64")
    pdf.to_parquet(str(tmp_path / "events.parquet"))

    df = st11_streaming_cms_maintenance(spark, str(tmp_path))
    assert df.columns == [
        "user_id", "true_count", "cms_estimate", "overestimate",
        "merge_consistent",
    ]
    assert df.count() == 0


def test_st12_streamed_history_equals_batch_merge(spark):
    """The streamed per-epoch fragments + end-of-snapshot retire pass
    must reproduce adv14's one-shot batch merge row-for-row — the twin
    certificate, checked directly in-repo (the external gate checks the
    same equality through the shared oracle)."""
    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st12_streaming_scd2_maintenance,
    )

    from .conftest import SF_SMOKE

    key = lambda r: (r.c_custkey, r.scd_action)  # noqa: E731
    streamed = sorted(
        st12_streaming_scd2_maintenance(spark, SF_SMOKE).collect(), key=key
    )
    batch = sorted(
        adv14_scd2_snapshot_merge(spark, SF_SMOKE).collect(), key=key
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_st12_empty_snapshot_retires_every_key(spark, tmp_path):
    """A customer table whose every key hashes into bucket 2 yields an
    EMPTY snapshot (h != 2 filter) — the stream delivers nothing and
    every dim key must come back 'retired', without touching the
    stream/fragment machinery (no epochs can exist)."""
    import pandas as pd

    from iot_big_data_engineering_spark.streaming.pipeline import (
        st12_streaming_scd2_maintenance,
    )

    def h(key: int) -> int:
        return (key * 2654435761) % (2**32) % 10

    keys = [k for k in range(1, 5000) if h(k) == 2][:3]
    assert len(keys) == 3
    pd.DataFrame(
        [(k, f"c{k}", 1, 500.0 + k, "AUTO") for k in keys],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    ).to_parquet(str(tmp_path / "customer.parquet"))

    rows = st12_streaming_scd2_maintenance(spark, str(tmp_path)).collect()
    assert sorted(r.c_custkey for r in rows) == sorted(keys)
    assert all(r.scd_action == "retired" and not r.is_current for r in rows)


def test_st12_empty_corpus_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.streaming.pipeline import (
        st12_streaming_scd2_maintenance,
    )

    pd.DataFrame(
        [], columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment"],
    ).astype({"c_custkey": "int64", "c_name": "str", "c_nationkey": "int32",
              "c_acctbal": "float64", "c_mktsegment": "str"}
    ).to_parquet(str(tmp_path / "customer.parquet"))
    df = st12_streaming_scd2_maintenance(spark, str(tmp_path))
    assert df.columns == ["c_custkey", "acctbal", "valid_from", "valid_to",
                          "is_current", "scd_action"]
    assert df.count() == 0


def test_st13_streamed_view_equals_batch_maintenance(spark):
    """The streamed per-epoch join-view states merged across epochs must
    equal a23's batch maintenance row-for-row (both equal the full
    recompute by their shared oracle; this check localizes a streaming-
    side regression engine-internally)."""
    from iot_big_data_engineering_spark.operators.sketches import (
        a23_incremental_join_view,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st13_streaming_join_view,
    )

    from .conftest import SF_SMOKE

    key = lambda r: (r.ship_month, r.o_orderpriority)  # noqa: E731
    streamed = sorted(
        st13_streaming_join_view(spark, SF_SMOKE).collect(), key=key
    )
    batch = sorted(
        a23_incremental_join_view(spark, SF_SMOKE).collect(), key=key
    )
    assert streamed == batch and len(streamed) > 0


def test_st13_empty_fact_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.streaming.pipeline import (
        st13_streaming_join_view,
    )

    pd.DataFrame(
        [], columns=["o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderdate", "o_orderpriority"],
    ).astype({"o_orderkey": "int64", "o_custkey": "int64",
              "o_orderstatus": "str", "o_totalprice": "float64",
              "o_orderdate": "datetime64[us]", "o_orderpriority": "str"}
    ).to_parquet(str(tmp_path / "orders.parquet"))
    pd.DataFrame(
        [], columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                     "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus", "l_shipdate"],
    ).astype({"l_orderkey": "int64", "l_partkey": "int64",
              "l_suppkey": "int64", "l_linenumber": "int32",
              "l_quantity": "float64", "l_extendedprice": "float64",
              "l_discount": "float64", "l_tax": "float64",
              "l_returnflag": "str", "l_linestatus": "str",
              "l_shipdate": "datetime64[us]"}
    ).to_parquet(str(tmp_path / "lineitem.parquet"))
    df = st13_streaming_join_view(spark, str(tmp_path))
    assert df.columns == ["ship_month", "o_orderpriority", "n_items",
                          "revenue"]
    assert df.count() == 0


def test_st11_single_data_batch_fallback(spark, tmp_path):
    """A 1-row events corpus lands in exactly one xxhash64 slice, so
    only ONE data micro-batch arrives. st11 must certify the degenerate
    case (merge of one delta equals one-pass — merge_consistent TRUE)
    instead of raising, per the r8 advice: a valid single-batch answer
    exists, and the batch twin a22 would succeed on the same corpus."""
    import pandas as pd

    from iot_big_data_engineering_spark.sources.tables import load_table
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st11_streaming_cms_maintenance,
    )

    from .conftest import SF_SMOKE

    pdf = load_table(spark, SF_SMOKE, "events").toPandas().head(1)
    assert pdf["user_id"].notna().all()
    pdf.to_parquet(str(tmp_path / "events.parquet"))

    rows = st11_streaming_cms_maintenance(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.merge_consistent is True
    assert r.true_count == 1 and r.cms_estimate >= 1


def test_st14_streamed_card_equals_batch_card(spark):
    """The streamed fragment-merged card must equal dp16's one-shot
    batch card row-for-row (the mergeable-decomposition certificate)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp16_dataset_card,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st14_streaming_dataset_card,
    )

    batch = sorted(
        map(tuple, dp16_dataset_card(spark, SF_SMOKE).collect())
    )
    streamed = sorted(
        map(tuple, st14_streaming_dataset_card(spark, SF_SMOKE).collect())
    )
    assert streamed == batch


def test_st14_empty_corpus_stable_schema(spark, tmp_path):
    from iot_big_data_engineering_spark.schema import TESTDATA_SCHEMAS
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st14_streaming_dataset_card,
    )

    spark.createDataFrame([], TESTDATA_SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    df = st14_streaming_dataset_card(spark, str(tmp_path))
    assert df.collect() == []
    assert "top_lang" in df.columns and "exact_dup_ppm" in df.columns


def test_memory_sinks_leave_no_temp_views(spark):
    """Each memory-sink run used to leave its query-named temp view behind,
    pinning the sink's rows in the driver for the life of the session. The
    returned frame must stay readable after the view is dropped, and a
    repeated call must return the same rows."""
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st2_streaming_session_windows,
        st5_streaming_dedup,
        st15_stateful_session_eviction,
    )

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for query in (
        st2_streaming_session_windows,
        st5_streaming_dedup,
        st15_stateful_session_eviction,
    ):
        first = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
        second = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
        assert first, query.__name__
        assert first == second, query.__name__
    assert temp_views() == before


def test_scratch_trees_removed_on_every_exit(spark, tmp_path, monkeypatch):
    """Staged inputs, state stores and checkpoints live under one scratch
    tree per call, gone after a successful run (st8), after a certificate
    raise (st15 on a one-timestamp corpus) and in an operator outside
    streaming (a17b)."""
    import datetime as dt
    import tempfile

    from iot_big_data_engineering_spark.operators.sketches import (
        a17b_rollup_backfill,
    )
    from iot_big_data_engineering_spark.streaming.pipeline import (
        st8_streaming_incremental_rollup,
        st15_stateful_session_eviction,
    )

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    assert st8_streaming_incremental_rollup(spark, SF_SMOKE).count() > 0
    assert list(scratch.iterdir()) == []

    one_ts = tmp_path / "one_ts_sf"
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(i, t, i % 3, "click", 1.0, "{}") for i in range(9)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(one_ts / "events.parquet"))
    with pytest.raises(RuntimeError, match="single timestamp"):
        st15_stateful_session_eviction(spark, str(one_ts))
    assert list(scratch.iterdir()) == []

    assert a17b_rollup_backfill(spark, SF_SMOKE).count() > 0
    assert list(scratch.iterdir()) == []


def test_streaming_plumbing_lives_only_in_its_helpers():
    """The availableNow run, the scratch tree, the memory sink and the
    epoch-keyed overwrite each have one helper; a copy of any of them
    anywhere else in the package fails here."""
    import ast
    import re
    from pathlib import Path

    import iot_big_data_engineering_spark as pkg

    root = Path(pkg.__file__).parent
    homes = {
        r"trigger\(\s*availableNow\s*=\s*True": (
            "streaming/pipeline.py",
            "run_available_now",
        ),
        r"\bmkdtemp\(": ("caching.py", "scratch_dir"),
        r"""format\(\s*["']memory["']""": ("streaming/pipeline.py", "to_memory"),
    }
    found = {pattern: [] for pattern in homes}
    overwrite_owners = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        funcs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def owner(lineno):
            inside = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
            return max(inside, key=lambda f: f.lineno).name if inside else None

        for lineno, line in enumerate(src.splitlines(), 1):
            for pattern in homes:
                if re.search(pattern, line):
                    found[pattern].append((rel, owner(lineno)))
            if rel == "streaming/pipeline.py" and "partitionOverwriteMode" in line:
                overwrite_owners.append(owner(lineno))
    for pattern, home in homes.items():
        assert found[pattern] == [home], (pattern, found[pattern])
    assert overwrite_owners == ["write_epoch"], overwrite_owners
