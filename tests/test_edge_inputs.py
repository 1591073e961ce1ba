"""Degenerate-input robustness: every operator family must handle empty
and single-row inputs without crashing (empty partitions are routine at
scale — a filter can empty any split, and kernels see empty Arrow
batches)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def test_ivf_on_tiny_and_empty_corpus(spark):
    from iot_big_data_engineering_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
        load_embeddings,
    )

    e = load_embeddings(spark, SF_SMOKE, "vec_id", "label", repartition=True)
    tiny = e.filter(F.col("vec_id") < 8)  # fewer rows than nlist=16
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rows = ivf_topk(tiny, q, k=3).collect()
    assert len(rows) > 0
    cent = kmeans_centroids(tiny, nlist=4, iters=2)
    assert cent.shape == (4, 64)

    empty = e.filter(F.col("vec_id") < 0)
    assert ivf_topk(empty, q, k=3).count() == 0

    # empty QUERY set (not just empty corpus): np.asarray([]) is 1-D, so an
    # unguarded normalize would raise AxisError before producing anything
    no_q = q.filter(F.col("query_id") < 0)
    res = ivf_topk(tiny, no_q, k=3)
    assert res.count() == 0
    assert res.columns == ["query_id", "vec_id", "cosine", "rank"]


def test_minhash_on_empty_docs(spark):
    from iot_big_data_engineering_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 0)
    sigs = minhash_signatures(d)
    assert sigs.count() == 0
    assert lsh_candidate_pairs(sigs).count() == 0


def test_decode_kernel_on_empty_payloads(spark):
    from iot_big_data_engineering_spark.operators.multimodal import (
        fake_decode_stats,
        with_binary_payload,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 0)
    assert fake_decode_stats(with_binary_payload(d)).count() == 0


def test_cache_registry_releases_tracked_frames(spark):
    """Operators that persist an intermediate register it for caller-owned
    cleanup; release_caches must unpersist everything tracked."""
    from iot_big_data_engineering_spark.caching import release_caches, track

    df = track(spark.range(10).persist())
    df.count()
    assert df.storageLevel.useMemory
    assert release_caches() >= 1
    assert not df.storageLevel.useMemory
    assert release_caches() == 0  # registry drained


def test_aggregations_on_empty_window(spark):
    """Monitoring checks over an empty window must return their
    no-data shape (global aggs produce one row of nulls / zeros), and the
    alert union must simply be empty, not error."""
    from iot_big_data_engineering_spark.operators.monitoring import m15_alerts
    from iot_big_data_engineering_spark.sources.sensor_view import apply_quality
    from iot_big_data_engineering_spark.sources.tables import load_table
    from iot_big_data_engineering_spark.sources.sensor_view import map_events

    # empty quality stream → zero alerts (not a crash)
    e = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 0)
    q = apply_quality(map_events(e))
    assert q.count() == 0


def test_asof_join_bucket_knob_bounds_heavy_customer(spark):
    """Skew hardening: one customer places 100k orders inside a single
    month. Month buckets put all 100k in ONE per-(customer, bucket) array;
    the `bucket="day"` knob caps the array at that day's orders (~3.5k
    here) with the carry row covering everything earlier — per-event
    candidate work drops ~30x while the result stays identical. Asserts
    (a) the day-bucket compaction really is bounded, (b) both widths match
    a DuckDB ASOF oracle on the same data."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _BUCKETS,
        asof_join,
    )

    n = 100_000
    base = pd.Timestamp("2024-03-01")
    orders_pd = pd.DataFrame(
        {
            "o_custkey": 7,
            "o_orderkey": pd.RangeIndex(n) + 1000,
            # 25 s spacing spans ~29 days — all inside March 2024
            "o_orderdate": base + pd.to_timedelta(pd.RangeIndex(n) * 25, "s"),
        }
    )
    # a normal customer too, so the skewed key is not the only group
    orders_pd = pd.concat(
        [
            orders_pd,
            pd.DataFrame(
                {
                    "o_custkey": 8,
                    "o_orderkey": [1, 2, 3],
                    "o_orderdate": pd.to_datetime(
                        ["2024-02-10", "2024-03-15", "2024-04-02"]
                    ),
                }
            ),
        ]
    )
    events_pd = pd.DataFrame(
        {
            "event_id": pd.RangeIndex(300),
            "user_id": [7] * 280 + [8] * 10 + [9] * 10,
            "ts": base
            + pd.to_timedelta((pd.RangeIndex(300) * 9941) % (75 * 86400), "s")
            - pd.Timedelta(days=15),
        }
    )
    orders = spark.createDataFrame(orders_pd)
    events = spark.createDataFrame(events_pd)

    # (a) the knob's bound, on the exact compaction the day path builds
    per_day = (
        orders.groupBy("o_custkey", _BUCKETS["day"](F.col("o_orderdate")))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_day <= 3600  # 86400 s / 25 s per order
    per_month = (
        orders.groupBy("o_custkey", _BUCKETS["month"](F.col("o_orderdate")))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_month >= n  # what the day knob is saving us from

    # (b) identical, oracle-checked results at both widths
    con = duckdb.connect()
    con.register("orders_pd", orders_pd)
    con.register("events_pd", events_pd)
    want = sorted(
        con.execute(
            """
            SELECT e.event_id, o.o_orderkey
            FROM events_pd e
            ASOF LEFT JOIN orders_pd o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
            """
        ).fetchall()
    )
    con.close()
    for bucket in ("month", "day"):
        got = sorted(
            (r.event_id, r.o_orderkey)
            for r in asof_join(events, orders, bucket=bucket)
            .select("event_id", "o_orderkey")
            .collect()
        )
        assert got == want, f"bucket={bucket}"


def test_range_join_correct_under_heavy_customer(spark):
    """Range-join skew note: an event of the heavy customer genuinely
    matches every order active in its 30-day lookback, so per-bucket
    arrays are intrinsically >= the active set — no bucket width can cut
    below that. The test pins correctness under a 20k-orders-in-one-month
    customer at two widths (week buckets trade smaller arrays against ~5x
    order-row expansion vs month)."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        range_join_active_orders,
    )

    n = 20_000
    base = pd.Timestamp("2024-03-01")
    orders_pd = pd.DataFrame(
        {
            "o_custkey": 7,
            "o_orderkey": pd.RangeIndex(n) + 1000,
            "o_orderdate": base + pd.to_timedelta(pd.RangeIndex(n) * 125, "s"),
        }
    )
    events_pd = pd.DataFrame(
        {
            "event_id": pd.RangeIndex(60),
            "user_id": [7] * 50 + [9] * 10,
            "ts": base
            + pd.to_timedelta((pd.RangeIndex(60) * 104729) % (70 * 86400), "s")
            - pd.Timedelta(days=10),
        }
    )
    orders = spark.createDataFrame(orders_pd)
    events = spark.createDataFrame(events_pd)

    con = duckdb.connect()
    con.register("orders_pd", orders_pd)
    con.register("events_pd", events_pd)
    want = sorted(
        con.execute(
            """
            SELECT e.event_id,
                   count(o.o_orderkey) AS n_active_orders,
                   max(o.o_orderkey) AS latest_active_order
            FROM events_pd e
            LEFT JOIN orders_pd o
              ON o.o_custkey = e.user_id
             AND e.ts >= o.o_orderdate
             AND e.ts < o.o_orderdate + INTERVAL 30 DAY
            GROUP BY 1
            """
        ).fetchall()
    )
    con.close()
    for bucket in ("month", "week"):
        got = sorted(
            (r.event_id, r.n_active_orders, r.latest_active_order)
            for r in range_join_active_orders(events, orders, bucket=bucket)
            .select("event_id", "n_active_orders", "latest_active_order")
            .collect()
        )
        assert got == want, f"bucket={bucket}"


def test_bpe_tokenizer_chunking(spark):
    """BPE-ish regex semantics: greedy ≤4-char letter chunks, ≤3-digit
    number chunks, punctuation single — identical on Spark and DuckDB
    (the t8 oracle depends on this equivalence)."""
    import duckdb

    from iot_big_data_engineering_spark.functions import text as X

    samples = [
        "hello worldwide 12345 x!",
        "",
        "   ",
        "a",
        "abcdefghij 1234567 ...",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = [r.t for r in df.select(X.bpe_tokens("text").alias("t")).collect()]
    want = [
        duckdb.sql(
            f"SELECT {X.sql_bpe_tokens('t')} FROM (SELECT ? AS t)", params=[s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == want, (got, want)
    assert got[0] == ["hell", "o", "worl", "dwid", "e", "123", "45", "x", "!"]
    assert got[1] == [] and got[2] == []


def test_semantic_dedup_on_empty_and_tiny_corpus(spark):
    from iot_big_data_engineering_spark.operators.similarity import (
        load_embeddings,
        semantic_dedup_dropped,
    )

    e = load_embeddings(spark, SF_SMOKE, "vec_id", repartition=True)
    empty = e.filter(F.col("vec_id") < 0)
    res = semantic_dedup_dropped(empty)
    assert res.count() == 0
    assert res.columns == ["vec_id"]
    # a 1-vector corpus has no pair to drop
    assert semantic_dedup_dropped(e.filter(F.col("vec_id") == 0)).count() == 0
    # fewer rows than nlist — every cell holds <= 1 distinct vector unless
    # duplicates exist; planting one exact copy must drop exactly the copy
    tiny = e.filter(F.col("vec_id") < 8)
    planted = tiny.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(1000).cast("long")
    )
    dropped = semantic_dedup_dropped(tiny.unionByName(planted)).collect()
    assert [r.vec_id for r in dropped] == [1000]


def test_merge_states_single_and_empty_part(spark):
    from iot_big_data_engineering_spark.operators.sketches import (
        _partial_state,
        merge_states,
    )
    from iot_big_data_engineering_spark.sources.sensor_view import quality_checked

    q = quality_checked(spark, SF_SMOKE)
    full = _partial_state(q)
    # merging a single state is the identity on exact columns
    one = merge_states(full)
    assert sorted(
        (r["sensor_type"], r["n"], r["sq"]) for r in one.collect()
    ) == sorted((r["sensor_type"], r["n"], r["sq"]) for r in full.collect())
    # an EMPTY delta (no new rows in the period) must merge as a no-op —
    # the routine case for a quiet partition/day
    empty_state = _partial_state(q.filter(F.lit(False)))
    merged = merge_states(full, empty_state)
    assert sorted(
        (r["sensor_type"], r["n"], r["sq"]) for r in merged.collect()
    ) == sorted((r["sensor_type"], r["n"], r["sq"]) for r in full.collect())


def test_m17_incident_grouping_degenerate_inputs(spark):
    from iot_big_data_engineering_spark.operators.monitoring import (
        m17_alert_incidents,
    )

    # full-query smoke on the smallest SF: every incident must satisfy
    # start <= end and n_suppressed == n_alerts - 1
    rows = m17_alert_incidents(spark, SF_SMOKE).collect()
    assert rows, "sf0.001 plants enough anomalies to form incidents"
    for r in rows:
        assert r.incident_start <= r.incident_end
        assert r.n_suppressed == r.n_alerts - 1
        assert r.max_anomaly_score > 0


def test_dq3_detects_planted_orphans(spark):
    """The audit's zero-orphan result on clean testdata must be a real
    measurement: truncating the parent keyspace has to surface exactly
    the rows that lost their parent."""
    from iot_big_data_engineering_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    truncated = customer.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("o_custkey")
    ).distinct()
    orphans = (
        orders.select("o_custkey")
        .filter(F.col("o_custkey").isNotNull())
        .join(truncated, "o_custkey", "left_anti")
        .count()
    )
    expected = orders.filter(F.col("o_custkey") % 2 != 0).count()
    assert orphans == expected > 0


def test_connected_components_empty_and_self_loop_edges(spark):
    """Empty edge lists and self-loops are routine degenerate shapes
    (a dedup pass over a clean corpus yields zero edges); both CC paths
    must return a stable-schema result without crashing."""
    from iot_big_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    for cap in (0, 10):
        out = connected_components(empty, driver_cap=cap)
        assert out.count() == 0
        assert out.columns == ["node", "component"]
    loops = spark.createDataFrame([(5, 5), (7, 7)], "src long, dst long")
    got = {
        r.node: r.component for r in connected_components(loops).collect()
    }
    assert got == {5: 5, 7: 7}


def test_dp9_split_on_edgeless_corpus(spark):
    """A corpus with no near-dup edges (every doc its own cluster) must
    still split deterministically and certify edges_respect_split=TRUE
    (vacuously — zero violations over zero edges)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp9_leakage_safe_split,
    )

    # sf0.001 documents: near-dup pairs may or may not exist — the
    # invariant under test is schema + certificate stability, not counts
    rows = dp9_leakage_safe_split(spark, SF_SMOKE).collect()
    assert {r.split for r in rows} <= {"train", "eval"}
    assert all(r.edges_respect_split for r in rows)
    assert sum(r.n_docs for r in rows) > 0


def test_compact_rollup_state_single_partition_is_noop_value(spark, tmp_path):
    """Compacting a state table that already has ONE partition must not
    change the merged value (idempotent compaction)."""
    from pyspark.sql import functions as FF

    import iot_big_data_engineering_spark.operators.sketches as sk
    from iot_big_data_engineering_spark.sources.sensor_view import (
        quality_checked,
    )

    q = quality_checked(spark, SF_SMOKE).limit(200)
    path = str(tmp_path / "state")
    merged = sk.maintain_rollup_state(spark, path, q, epoch_id=0)
    before = sorted(
        merged.select(
            "sensor_type", "n", "sq", FF.col("min_ts").cast("string")
        ).collect()
    )
    sk.compact_rollup_state(spark, path)
    after = sorted(
        sk.merge_states(spark.read.parquet(path).drop("epoch_id"))
        .select("sensor_type", "n", "sq", FF.col("min_ts").cast("string"))
        .collect()
    )
    assert after == before


def test_s7_filtered_on_empty_corpus(spark, tmp_path):
    """An empty embeddings corpus yields zero plant labels; the N-way
    label coalesce would raise on zero args, so s7 must return the
    stable-schema empty certificate instead (r7 ADVICE)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_big_data_engineering_spark.operators.similarity import (
        s7_knn_filtered,
    )

    empty = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq.write_table(empty, str(tmp_path / "embeddings.parquet"))
    df = s7_knn_filtered(spark, str(tmp_path))
    assert df.columns == [
        "query_id", "planted_dup_found", "results_respect_filter",
    ]
    assert df.count() == 0


def test_cc_driver_finish_rejects_null_endpoints(spark):
    """NULL edge endpoints must raise, not silently corrupt components
    via the null -> NaN -> int64 cast (r7 ADVICE)."""
    import pytest as _pytest

    from iot_big_data_engineering_spark.operators.dedup import (
        _cc_driver_finish,
    )

    edges = spark.createDataFrame(
        [(1, 2), (3, None)], "src long, dst long"
    )
    with _pytest.raises(ValueError, match="NULL endpoint"):
        _cc_driver_finish(edges, "src", "dst")


def test_dq5_profile_counts_planted_nulls_and_dups(spark, tmp_path):
    """Hand-built orders drop: planted NULLs, duplicate values, and
    known extrema per column — every profile cell is checked exactly."""
    import datetime as dt

    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        dq5_table_profile,
    )

    d = dt.datetime
    rows = [
        (1, 10, "O", 100.5, d(2024, 1, 1), "1-URGENT"),
        (2, 10, "F", 50.0, d(2024, 3, 1), "5-LOW"),
        (3, None, "O", None, d(2024, 2, 1), None),
        (4, 20, None, 200.25, None, "5-LOW"),
    ]
    pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    ).to_parquet(str(tmp_path / "orders.parquet"))

    prof = {
        r.column_name: r
        for r in dq5_table_profile(spark, str(tmp_path)).collect()
    }
    assert set(prof) == {"o_orderkey", "o_custkey", "o_totalprice",
                         "o_orderstatus", "o_orderpriority", "o_orderdate"}
    for r in prof.values():
        assert r.n_rows == 4

    k = prof["o_custkey"]
    assert (k.n_null, k.n_distinct, k.num_min, k.num_max) == (1, 2, 10.0, 20.0)
    assert k.str_min is None and k.str_max is None
    p = prof["o_totalprice"]
    assert (p.n_null, p.n_distinct, p.num_min, p.num_max) == (
        1, 3, 50.0, 200.25)
    s = prof["o_orderstatus"]
    assert (s.n_null, s.n_distinct, s.str_min, s.str_max) == (1, 2, "F", "O")
    assert s.num_min is None and s.num_max is None
    dd = prof["o_orderdate"]
    assert dd.n_null == 1 and dd.n_distinct == 3
    assert dd.str_min == "2024-01-01 00:00:00"
    assert dd.str_max == "2024-03-01 00:00:00"
    pr = prof["o_orderpriority"]
    assert (pr.n_null, pr.n_distinct, pr.str_min, pr.str_max) == (
        1, 2, "1-URGENT", "5-LOW")


def test_adv14_scd2_branches_match_hash_replay(spark, tmp_path):
    """SCD2 merge hand case: bucket membership (h = h32(key) % 10) is
    replayed in Python big-int arithmetic, so each key's expected branch
    — current / closed+updated / retired / inserted — is known a
    priori, and the merged history is checked row-for-row including the
    validity interval endpoints and the one-open-row-per-key invariant."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )

    def h(key: int) -> int:
        return (key * 2654435761) % (2**32) % 10

    def first_key(bucket: int) -> int:
        return next(k for k in range(1, 2000) if h(k) == bucket)

    changed = first_key(0)    # in both, balance bumped +100
    missing = first_key(2)    # history only -> retired
    new = first_key(3)        # snapshot only -> inserted
    steady = first_key(5)     # in both, unchanged -> current
    keys = [changed, missing, new, steady]
    pd.DataFrame(
        [(k, f"c{k}", 1, 1000.0 + k, "BUILDING") for k in keys],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    ).to_parquet(str(tmp_path / "customer.parquet"))

    hist = adv14_scd2_snapshot_merge(spark, str(tmp_path)).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r.c_custkey, []).append(r)

    # every key has at most one open row; closed rows carry valid_to
    for k, rows in by_key.items():
        assert sum(r.is_current for r in rows) <= 1, k
        for r in rows:
            assert r.is_current == (r.valid_to is None), (k, r)

    ch = sorted(by_key[changed], key=lambda r: r.scd_action)
    assert [r.scd_action for r in ch] == ["closed", "updated"]
    assert ch[0].acctbal == 1000.0 + changed and not ch[0].is_current
    assert ch[1].acctbal == 1100.0 + changed and ch[1].is_current
    assert str(ch[0].valid_to) == "2024-01-01 00:00:00"
    assert str(ch[1].valid_from) == "2024-01-01 00:00:00"

    (ret,) = by_key[missing]
    assert ret.scd_action == "retired" and not ret.is_current
    (ins,) = by_key[new]
    assert ins.scd_action == "inserted" and ins.is_current
    assert str(ins.valid_from) == "2024-01-01 00:00:00"
    (cur,) = by_key[steady]
    assert cur.scd_action == "current" and cur.is_current
    assert str(cur.valid_from) == "2023-01-01 00:00:00"


def test_adv14_empty_dimension(spark, tmp_path):
    """An empty customer table merges to an empty history with the full
    schema intact — no branch manufactures rows from nothing."""
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )

    pd.DataFrame(
        [], columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment"],
    ).astype({"c_custkey": "int64", "c_name": "str", "c_nationkey": "int32",
              "c_acctbal": "float64", "c_mktsegment": "str"}
    ).to_parquet(str(tmp_path / "customer.parquet"))
    df = adv14_scd2_snapshot_merge(spark, str(tmp_path))
    assert df.columns == ["c_custkey", "acctbal", "valid_from", "valid_to",
                          "is_current", "scd_action"]
    assert df.count() == 0


def test_adv14_null_balance_is_null_safe_on_both_engines(spark, tmp_path):
    """A dimension attribute that is NULL on both sides must merge as
    'current' on BOTH engines. With a plain != / <> comparison the
    engines diverge silently: Spark's when-chain falls through to
    'current' while the oracle's WHERE drops the row entirely (both
    branch predicates are NULL) — hence IS DISTINCT FROM in the SQL and
    eqNullSafe in the Spark plan. The NULL -> value transition must
    still close and re-version."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    def h(key: int) -> int:
        return (key * 2654435761) % (2**32) % 10

    steady = next(k for k in range(1, 2000) if h(k) not in (0, 2, 3))
    changed = next(k for k in range(1, 2000) if h(k) == 0)
    df = pd.DataFrame(
        [(steady, "a", 1, None, "B"), (changed, "b", 1, None, "B")],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    df.to_parquet(str(tmp_path / "customer.parquet"))

    rows = {
        (r.c_custkey, r.scd_action)
        for r in adv14_scd2_snapshot_merge(spark, str(tmp_path)).collect()
    }
    # steady: NULL == NULL null-safely -> carried 'current'.
    # changed (h=0): bal_new = round(NULL + 100, 2) = NULL too -> ALSO
    # 'current' (the +100 bump never materializes on a NULL balance).
    assert rows == {(steady, "current"), (changed, "current")}

    con = duckdb.connect()
    con.register("customer", df)
    duck = {
        (r[0], r[5])
        for r in con.execute(
            all_queries()["adv14_scd2_snapshot_merge"].oracle
        ).fetchall()
    }
    assert duck == rows  # the two engines agree INCLUDING the null rows


def test_dq5_profile_matches_pandas_on_random_frame(spark, tmp_path):
    """dq5's six profile legs vs an independent pandas computation on a
    seeded random orders frame with ~20% NULLs in every column — null
    counts, exact cardinalities, and typed min/max must all agree."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        dq5_table_profile,
    )

    rng = np.random.default_rng(11)
    n = 500

    def mask(vals):
        return [None if rng.random() < 0.2 else v for v in vals]

    df = pd.DataFrame(
        {
            "o_orderkey": pd.array(
                mask([int(x) for x in rng.integers(0, 200, n)]),
                dtype="Int64",
            ),
            "o_custkey": pd.array(
                mask([int(x) for x in rng.integers(0, 50, n)]),
                dtype="Int64",
            ),
            "o_orderstatus": mask(
                [str(x) for x in rng.choice(["O", "F", "P"], n)]
            ),
            "o_totalprice": pd.array(
                mask([round(float(x), 2) for x in rng.uniform(1, 9, n)]),
                dtype="Float64",
            ),
            "o_orderdate": mask(
                [dt.datetime(2024, 1, 1) + dt.timedelta(days=int(x))
                 for x in rng.integers(0, 90, n)]
            ),
            "o_orderpriority": mask(
                [str(x) for x in rng.choice(["1-URGENT", "5-LOW"], n)]
            ),
        }
    )
    df.to_parquet(str(tmp_path / "orders.parquet"))

    prof = {
        r.column_name: r
        for r in dq5_table_profile(spark, str(tmp_path)).collect()
    }
    for col in df.columns:
        s = df[col]
        r = prof[col]
        assert r.n_rows == n, col
        assert r.n_null == int(s.isna().sum()), col
        assert r.n_distinct == int(s.dropna().nunique()), col
        nn = s.dropna()
        if col in ("o_orderkey", "o_custkey", "o_totalprice"):
            assert r.num_min == float(nn.min()) and r.num_max == float(
                nn.max()
            ), col
            assert r.str_min is None and r.str_max is None, col
        else:
            want_min, want_max = min(nn), max(nn)
            if col == "o_orderdate":
                want_min = want_min.strftime("%Y-%m-%d %H:%M:%S")
                want_max = want_max.strftime("%Y-%m-%d %H:%M:%S")
            assert (r.str_min, r.str_max) == (want_min, want_max), col
            assert r.num_min is None and r.num_max is None, col


def test_adv14_round_boundary_agrees_on_both_engines(spark, tmp_path):
    """VERDICT r8 What's-wrong #2 regression: the h=0 balance bump is the
    engine's one rounded hash-compared column, so it must use fround, not
    F.round. Probe it with a balance constructed so that
    (c_acctbal + 100.0) = 16.205 in double — a value whose binary form
    sits just BELOW the half-boundary while its shortest decimal string
    sits ON it: Spark's F.round (string HALF_UP) gives 16.21, the shared
    floor formula gives 16.20, and the floor-rewritten DuckDB oracle
    gives 16.20. Both engines must emit 16.20 — the F.round answer is
    asserted absent."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    def h(key: int) -> int:
        return (key * 2654435761) % (2**32) % 10

    changed = next(k for k in range(1, 2000) if h(k) == 0)
    bal = 16.205 - 100.0  # x + 100.0 == 16.205 exactly in double
    assert bal + 100.0 == 16.205
    df = pd.DataFrame(
        [(changed, "b", 1, bal, "B")],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    df.to_parquet(str(tmp_path / "customer.parquet"))

    spark_rows = {
        (r.scd_action, r.acctbal)
        for r in adv14_scd2_snapshot_merge(spark, str(tmp_path)).collect()
    }
    assert ("updated", 16.20) in spark_rows, spark_rows
    assert ("updated", 16.21) not in spark_rows  # the F.round answer

    con = duckdb.connect()
    con.register("customer", df)
    duck_rows = {
        (r[5], r[1])
        for r in con.execute(
            all_queries()["adv14_scd2_snapshot_merge"].oracle
        ).fetchall()
    }
    assert duck_rows == spark_rows


def test_dq6_drift_verdicts_on_synthetic_snapshots(spark, tmp_path):
    """dq6 on a crafted orders table: the Knuth split is replayed in
    Python so each side's null counts and cardinalities are known a
    priori; one column is made to genuinely drift (nulls concentrated
    on one side), and its flag — and only its flag — must trip."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        dq6_snapshot_drift,
    )
    from iot_big_data_engineering_spark.registry import all_queries

    def h(key: int) -> int:
        return (key * 2654435761) % (2**32) % 2

    keys = list(range(1, 401))
    side = {k: h(k) for k in keys}
    rows = []
    for k in keys:
        # o_custkey: NULL on every side-1 row -> 0 ppm vs 1e6 ppm drift
        custkey = None if side[k] == 1 else k
        rows.append((k, custkey, float(k), "O", "1-URGENT",
                     pd.Timestamp("2024-01-01")))
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_totalprice",
                 "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )
    pdf.to_parquet(str(tmp_path / "orders.parquet"))

    got = {r.column_name: r
           for r in dq6_snapshot_drift(spark, str(tmp_path)).collect()}
    n_a = sum(1 for k in keys if side[k] == 0)
    n_b = len(keys) - n_a
    ck = got["o_custkey"]
    assert (ck.n_rows_a, ck.n_rows_b) == (n_a, n_b)
    assert (ck.n_null_a, ck.n_null_b) == (0, n_b)
    assert (ck.null_ppm_a, ck.null_ppm_b) == (0, 1_000_000)
    assert ck.drifted  # null-rate drift
    ok = got["o_orderkey"]
    assert (ok.n_null_a, ok.n_null_b) == (0, 0)
    assert (ok.n_distinct_a, ok.n_distinct_b) == (n_a, n_b)
    assert not ok.drifted
    # constant columns: 1 distinct on both sides, no drift
    assert not got["o_orderstatus"].drifted
    assert not got["o_orderpriority"].drifted

    con = duckdb.connect()
    con.register("orders", pdf)
    du = sorted(map(tuple, con.execute(
        all_queries()["dq6_snapshot_drift"].oracle
    ).fetchall()))
    sp = sorted(map(tuple, dq6_snapshot_drift(spark, str(tmp_path)).collect()))
    assert sp == du


def test_dq6_empty_table_stable_schema(spark, tmp_path):
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        dq6_snapshot_drift,
    )

    pd.DataFrame(
        [], columns=["o_orderkey", "o_custkey", "o_totalprice",
                     "o_orderstatus", "o_orderpriority", "o_orderdate"],
    ).astype({"o_orderkey": "int64", "o_custkey": "int64",
              "o_totalprice": "float64", "o_orderstatus": "str",
              "o_orderpriority": "str",
              "o_orderdate": "datetime64[us]"}
    ).to_parquet(str(tmp_path / "orders.parquet"))
    df = dq6_snapshot_drift(spark, str(tmp_path))
    assert df.columns == [
        "column_name", "n_rows_a", "n_rows_b", "n_null_a", "n_null_b",
        "n_distinct_a", "n_distinct_b", "null_ppm_a", "null_ppm_b",
        "drifted",
    ]
    rows = {r.column_name: r for r in df.collect()}
    assert len(rows) == 5  # one row per profiled column, even when empty
    assert all(
        (r.n_rows_a, r.n_rows_b, r.null_ppm_a, r.null_ppm_b)
        == (0, 0, 0, 0)
        and not r.drifted
        for r in rows.values()
    )


def test_r9_second_batch_empty_inputs_stable(spark):
    """Every second-batch round-9 core must return an EMPTY result with
    a stable schema on an empty input — never raise, never NaN."""
    from iot_big_data_engineering_spark.operators.advanced import (
        pagerank_fixed_point,
    )
    from iot_big_data_engineering_spark.operators.dedup import (
        duplicate_span_ratio,
    )
    from iot_big_data_engineering_spark.operators.joins import (
        frequent_pairs,
        markov_transitions,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        bm25_topk,
        collocations_pmi,
        dataset_card,
        dsir_importance,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, lang string, source string, text string"
    )
    for fn in (
        lambda: collocations_pmi(docs.select("doc_id", "text")),
        lambda: bm25_topk(docs.select("doc_id", "text")),
        lambda: dsir_importance(docs.select("doc_id", "lang", "text")),
        lambda: dataset_card(docs.select("source", "lang", "text")),
        lambda: duplicate_span_ratio(docs.select("doc_id", "text")),
    ):
        df = fn()
        assert df.collect() == []
        assert df.columns

    l = spark.createDataFrame([], "l_orderkey long, l_partkey long")
    assert frequent_pairs(l).collect() == []

    e = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string"
    )
    assert markov_transitions(e).collect() == []

    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank_fixed_point(edges).collect() == []


def test_r10_additions_empty_inputs_stable(spark):
    """Round-10 cores on empty inputs: empty result, stable schema,
    never raise (the r9-second-batch pattern continued)."""
    from iot_big_data_engineering_spark.operators.joins import (
        frequent_pairs_log,
    )
    from iot_big_data_engineering_spark.operators.similarity import (
        range_search,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        collocations_pmi_log,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    df = collocations_pmi_log(docs)
    assert df.collect() == [] and df.columns == [
        "w1", "w2", "pair_count", "rank",
    ]

    l = spark.createDataFrame([], "l_orderkey long, l_partkey long")
    df = frequent_pairs_log(l)
    assert df.collect() == [] and df.columns == [
        "p1", "p2", "pair_n", "c1", "c2", "rank",
    ]

    e = spark.createDataFrame([], "vec_id long, v array<double>")
    q = spark.createDataFrame([], "query_id long, qv array<double>")
    df = range_search(e, q)
    assert df.collect() == [] and df.columns == [
        "query_id", "vec_id", "cosine",
    ]


def test_dp17_d12_plan_shapes(spark):
    """dp17: both bucket tables broadcast, nothing vocabulary-sized
    moves; d12: the corpus-scale gram join must NOT broadcast."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d12_duplicate_span_ratio,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        dp17_dsir_importance,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_no_cartesian,
        plan_str,
    )

    from .conftest import SF_SMOKE

    d17 = dp17_dsir_importance(spark, SF_SMOKE)
    assert_no_cartesian(d17)
    p17 = plan_str(d17)
    assert "BroadcastHashJoin" in p17, p17  # B-row bucket tables

    d12 = d12_duplicate_span_ratio(spark, SF_SMOKE)
    assert_no_cartesian(d12)
    p12 = plan_str(d12)
    # the gram-keyed join back must stay a shuffle join: gram df is
    # corpus-sized (AQE may still pick broadcast at smoke SF, so assert
    # only that the per-doc rollup happens after a non-broadcast plan
    # shape when one exists; the hard invariant is no cartesian)
    assert "TakeOrderedAndProject" in p12, p12


def test_t20_dq10_plan_shapes(spark):
    """Plan pins (the dp17/d12 pattern): t20 must plan as a pruned
    documents scan feeding partial/final hash aggregates with zero joins
    and zero windows;
    dq10 as ONE persisted count aggregate whose scalar attaches are
    broadcast-only — no sort-merge / shuffled-hash / cartesian join may
    ever appear."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq10_composition_drift,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        t20_token_entropy_profile,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_read_schema_only,
        plan_str,
    )

    from .conftest import SF_SMOKE

    t20 = t20_token_entropy_profile(spark, SF_SMOKE)
    p20 = plan_str(t20)
    assert "Join" not in p20, p20  # catches every physical join flavor
    assert "Window" not in p20, p20
    assert "HashAggregate" in p20, p20  # the two-stage reduction
    assert_read_schema_only(t20, "documents.parquet", {"doc_id", "text"})

    d10 = dq10_composition_drift(spark, SF_SMOKE)
    p10 = plan_str(d10)
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in p10, p10
    # the two 1-row scalar attaches (totals, js_total) broadcast
    assert "BroadcastNestedLoopJoin" in p10, p10
    assert "Window" not in p10, p10
    # the (type, side) count aggregate is pinned once for its three
    # consumers (ADVICE r16 #2)
    assert "InMemoryTableScan" in p10 or "InMemoryRelation" in p10, p10


def test_d13_dq11_plan_shapes(spark):
    """Plan pins (the t20/dq10 pattern above): d13's candidate
    generation must stay an equi-join on shingle hashes over the pinned
    signature table — no cartesian,
    no broadcast nested loop; dq11 must plan with ZERO joins (one
    corpus-scale daily aggregate, then |days|-bounded array math and a
    per-type bounded window) and a pruned events scan."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq11_cusum_changepoint,
    )
    from iot_big_data_engineering_spark.operators.dedup import (
        d13_containment_neardup,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_read_schema_only,
        plan_str,
    )

    from .conftest import SF_SMOKE

    d13 = d13_containment_neardup(spark, SF_SMOKE)
    p13 = plan_str(d13)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p13, p13
    # the tokenize→shingle→hash→sort tree is evaluated once and pinned
    assert "InMemoryTableScan" in p13 or "InMemoryRelation" in p13, p13

    d11 = dq11_cusum_changepoint(spark, SF_SMOKE)
    p11 = plan_str(d11)
    assert "Join" not in p11, p11
    assert "HashAggregate" in p11, p11
    assert_read_schema_only(d11, "events.parquet", {"event_type", "ts", "value"})


def test_dp20_dq12_plan_shapes(spark):
    """Plan pins: dp20's corpus work must be ONE pruned-scan count
    aggregate with the bounded-row CDF frame pinned (its theta-join and
    scaffold join run on that cache, never a cartesian); dq12's corpus
    work is one count aggregate onto ≤ 9 pinned rows with
    broadcast-only attaches — no sort-merge join or cartesian may ever
    appear in either."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq12_benford_audit,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        dp20_token_mass_quantiles,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_read_schema_only,
        plan_str,
    )

    from .conftest import SF_SMOKE

    d20 = dp20_token_mass_quantiles(spark, SF_SMOKE)
    p20 = plan_str(d20)
    assert "CartesianProduct" not in p20, p20
    assert "InMemoryTableScan" in p20 or "InMemoryRelation" in p20, p20
    assert_read_schema_only(d20, "documents.parquet", {"source", "text"})

    d12 = dq12_benford_audit(spark, SF_SMOKE)
    p12 = plan_str(d12)
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p12, p12
    assert "Window" in p12, p12  # the constant-domain 9-row total
    assert_read_schema_only(d12, "orders.parquet", {"o_totalprice"})


def test_dq7_planted_violations_accounted_exactly(spark):
    """Plant one violation per expectation class and check each leg's
    exact fail accounting (incl. the all-members-fail uniqueness
    convention and NULL semantics)."""
    import datetime as dt

    from iot_big_data_engineering_spark.operators.advanced import (
        expectation_audit,
    )

    d95 = dt.datetime(1995, 6, 1)
    rows = [
        # (orderkey, custkey, totalprice, orderdate, priority)
        (1, 10, 100.0, d95, "2-HIGH"),                  # clean
        (None, 10, 100.0, d95, "2-HIGH"),               # null key
        (2, 10, 400_000.0, d95, "2-HIGH"),              # price breach
        (3, 10, 100.0, dt.datetime(2003, 1, 1), "2-HIGH"),  # date breach
        (4, 10, 100.0, d95, "9-BOGUS"),                 # domain breach
        (5, 10, 100.0, d95, None),                      # NULL priority fails domain
        (6, 99, 100.0, d95, "2-HIGH"),                  # orphan custkey
        (7, 10, 100.0, d95, "2-HIGH"),                  # dup pair —
        (7, 10, 100.0, d95, "2-HIGH"),                  # both members fail
        (8, 10, None, None, "2-HIGH"),                  # NULLs pass range/date
    ]
    o = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    )
    c = spark.createDataFrame([(10,)], "c_custkey long")
    got = {r.expectation: r for r in expectation_audit(o, c).collect()}
    assert len(got) == 6
    assert all(r.n_rows == 10 for r in got.values())
    assert got["orderkey_not_null"].n_failed == 1
    assert got["totalprice_in_range"].n_failed == 1  # NULL price passes
    assert got["orderdate_in_horizon"].n_failed == 1  # NULL date passes
    assert got["priority_in_domain"].n_failed == 2  # bogus + NULL
    assert got["orderkey_unique"].n_failed == 2  # both dup members
    assert got["custkey_references_customer"].n_failed == 1
    assert not any(r.passed for r in got.values() if r.n_failed)
    assert got["orderkey_not_null"].failed_ppm == 100_000


def test_dq7_all_green_on_clean_frame(spark):
    import datetime as dt

    from iot_big_data_engineering_spark.operators.advanced import (
        expectation_audit,
    )

    o = spark.createDataFrame(
        [(1, 10, 50.0, dt.datetime(1996, 1, 1), "5-LOW")],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    )
    c = spark.createDataFrame([(10,)], "c_custkey long")
    rows = expectation_audit(o, c).collect()
    assert len(rows) == 6
    assert all(r.passed and r.n_failed == 0 and r.failed_ppm == 0
               for r in rows)


def test_dq8_planted_pathologies_accounted_exactly(spark):
    """Every pathology class the audit exists to catch, planted once and
    accounted exactly: NULL vector, zero vector, NaN component, Inf
    component, ragged dimension — plus the norm range excluding the
    non-finite rows."""
    import math

    from iot_big_data_engineering_spark.operators.advanced import (
        embedding_audit,
    )

    rows = [
        (1, [3.0, 4.0]),            # norm 5
        (1, [1.0, 0.0]),            # norm 1
        (1, None),                  # NULL vector
        (1, [0.0, 0.0]),            # zero norm
        (1, [float("nan"), 1.0]),   # NaN component
        (1, [float("inf"), 1.0]),   # Inf component
        (1, [None, 1.0]),           # NULL component (review finding #1)
        (1, [None, float("nan")]),  # BOTH pathologies — counts in both
        (1, []),                    # zero-LENGTH — norm pinned 0.0
        (1, [1.0, 2.0, 2.0]),       # ragged dim (3) — norm 3
        (2, [6.0, 8.0]),            # second label: norm 10
    ]
    got = {
        r.label: r
        for r in embedding_audit(
            spark.createDataFrame(rows, "label int, v array<double>")
        ).collect()
    }
    a = got[1]
    assert a.n_vecs == 10
    assert a.n_null_vec == 1
    assert a.n_dims_distinct == 3 and (a.dim_min, a.dim_max) == (0, 3)
    assert a.n_null_component == 2  # incl. the [NULL, NaN] overlap vector
    assert a.n_nonfinite == 3       # incl. the same overlap vector
    assert a.n_zero_norm == 2       # the [0,0] vector AND the empty one
    # the norm range sees the 5 well-formed vectors (norms 5,1,0,0,3)
    assert math.isclose(a.norm_min, 0.0) and math.isclose(a.norm_max, 5.0)
    b = got[2]
    assert (
        b.n_vecs, b.n_null_vec, b.n_null_component, b.n_nonfinite,
        b.n_zero_norm,
    ) == (1, 0, 0, 0, 0)
    assert math.isclose(b.norm_min, 10.0) and math.isclose(b.norm_max, 10.0)


def test_dq8_empty_input_stable(spark):
    from iot_big_data_engineering_spark.operators.advanced import (
        embedding_audit,
    )

    e = spark.createDataFrame([], "label int, v array<double>")
    df = embedding_audit(e)
    assert df.collect() == []
    assert df.columns == [
        "label", "n_vecs", "n_null_vec", "n_dims_distinct", "dim_min",
        "dim_max", "n_null_component", "n_nonfinite", "n_zero_norm",
        "norm_min", "norm_max",
    ]


def test_m18_render_prometheus_format_exact(spark):
    """The exposition serializer against a hand frame: HELP only when
    known, TYPE always, integral floats render bare, NULL samples are
    skipped, output sorted by metric name, trailing newline."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        render_prometheus,
    )

    df = spark.createDataFrame(
        [
            ("iot_up", 1.0),
            ("iot_anomaly_rate_1h", 0.0625),
            ("iot_latency_seconds_avg_1h", None),  # skipped
            ("custom_metric", 42.0),  # no HELP entry
        ],
        "metric string, value double",
    )
    got = render_prometheus(df)
    assert got == (
        "# TYPE custom_metric gauge\n"
        "custom_metric 42\n"
        "# HELP iot_anomaly_rate_1h Anomalous fraction of trailing-hour"
        " records\n"
        "# TYPE iot_anomaly_rate_1h gauge\n"
        "iot_anomaly_rate_1h 0.0625\n"
        "# HELP iot_up 1 if any record arrived in the trailing 5 minutes\n"
        "# TYPE iot_up gauge\n"
        "iot_up 1\n"
    )


def test_m18_scrape_renders_on_gate_data(spark):
    """End-to-end: the registered scrape frame renders a well-formed
    exposition — every non-NULL metric appears exactly once with its
    TYPE line, and the throughput/up gauges are 0-or-1."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        m18_metrics_export,
        render_prometheus,
    )

    df = m18_metrics_export(spark, SF_SMOKE)
    rows = {r.metric: r.value for r in df.collect()}
    assert len(rows) == 9
    assert rows["iot_up"] in (0.0, 1.0)
    assert rows["iot_throughput_ok"] in (0.0, 1.0)
    text = render_prometheus(df)
    for name, v in rows.items():
        if v is not None:
            assert f"# TYPE {name} gauge\n" in text
            assert f"\n{name} " in "\n" + text
    assert text.endswith("\n")


def test_alert_fanout_payload_formats_exact(spark):
    """The fan-out formatting layer against a hand alert frame: Slack
    attachment field-for-field (alerting.py:328-360), email
    subject/body, and the reference's routing rule (Slack when
    configured, email ONLY for CRITICAL, store always)."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        alert_payloads,
        route_alert,
    )

    # routing truth table (alerting.py:310-323)
    assert route_alert("WARNING", True, True) == ["slack", "store"]
    assert route_alert("CRITICAL", True, True) == ["slack", "email", "store"]
    assert route_alert("CRITICAL", False, True) == ["email", "store"]
    assert route_alert("WARNING", False, False) == ["store"]

    alerts = spark.createDataFrame(
        [
            ("high_latency", 42.5, 30.0, "CRITICAL"),
            ("low_avg_quality", 0.7, 0.8, "WARNING"),
        ],
        "alert_type string, metric_value double, threshold double,"
        " severity string",
    )
    got = alert_payloads(
        alerts, ts_iso="2026-08-15T12:00:00", ts_epoch=1786795200
    )
    by_type = {p["alert_type"]: p for p in got}
    crit = by_type["high_latency"]
    assert crit["channels"] == ["slack", "email", "store"]
    att = crit["slack"]["attachments"][0]
    assert att["color"] == "#ff0000"
    assert att["title"] == "high_latency"
    assert att["text"] == (
        "high_latency: metric 42.5 breached threshold 30.0"
    )
    assert att["fields"] == [
        {"title": "Type", "value": "high_latency", "short": True},
        {"title": "Severity", "value": "CRITICAL", "short": True},
        {"title": "Timestamp", "value": "2026-08-15T12:00:00",
         "short": True},
    ]
    assert att["footer"] == "Sensor Data Pipeline"
    assert att["ts"] == 1786795200
    assert crit["email"]["subject"] == "[CRITICAL] high_latency"
    assert "Threshold" not in crit["email"]["body"]  # metadata JSON form
    assert '"threshold": 30.0' in crit["email"]["body"]

    warn = by_type["low_avg_quality"]
    assert warn["channels"] == ["slack", "store"]
    assert warn["email"] is None
    assert warn["slack"]["attachments"][0]["color"] == "#ff9500"


def test_dq8_matches_python_replay_random_vectors(spark):
    """dq8's whole algebra replayed in pure Python on seeded random
    vectors with every pathology planted at random: NULL vectors, NULL
    components, NaN/Inf components, exact-zero vectors, ragged dims.
    Norms replay through the same sequential left-fold + floor-round,
    so the doubles are bit-identical, not approximately equal."""
    import math

    import numpy as np

    from iot_big_data_engineering_spark.operators.advanced import (
        embedding_audit,
    )

    rng = np.random.default_rng(43)
    rows = []
    for i in range(120):
        label = int(rng.integers(0, 4))
        kind = int(rng.integers(0, 8))
        if kind == 0:
            rows.append((label, None))
        else:
            dim = int(rng.integers(2, 5))
            v = [float(x) for x in rng.normal(size=dim)]
            if kind == 1:
                v[int(rng.integers(0, dim))] = None
            elif kind == 2:
                v[int(rng.integers(0, dim))] = float("nan")
            elif kind == 3:
                v[int(rng.integers(0, dim))] = float(
                    rng.choice([float("inf"), float("-inf")])
                )
            elif kind == 4:
                v = [0.0] * dim
            elif kind == 5:
                v = []  # zero-length — norm pinned 0.0 on both engines
            elif kind == 6 and dim >= 2:
                v[0] = None  # BOTH pathologies on one vector —
                v[1] = float("nan")  # counted in both buckets
            rows.append((label, v))

    def replay():
        agg = {}
        for label, v in rows:
            a = agg.setdefault(
                label,
                {"n": 0, "nullv": 0, "dims": set(), "dmin": None,
                 "dmax": None, "nullc": 0, "bad": 0, "zero": 0,
                 "norms": []},
            )
            a["n"] += 1
            if v is None:
                a["nullv"] += 1
                continue
            d = len(v)
            a["dims"].add(d)
            a["dmin"] = d if a["dmin"] is None else min(a["dmin"], d)
            a["dmax"] = d if a["dmax"] is None else max(a["dmax"], d)
            # INDEPENDENT classifiers, matching the operator: a vector
            # with a NULL and a NaN component counts in BOTH buckets
            has_null = any(x is None for x in v)
            has_bad = any(
                x is not None and (math.isnan(x) or math.isinf(x))
                for x in v
            )
            if has_null:
                a["nullc"] += 1
            if has_bad:
                a["bad"] += 1
            if has_null or has_bad:
                continue
            n2 = 0.0
            for x in v:
                n2 += x * x
            if n2 == 0.0:
                a["zero"] += 1
            a["norms"].append(math.sqrt(n2))
        out = {}
        for label, a in agg.items():
            rnd = (
                lambda x: None
                if not a["norms"]
                else math.floor(x * 1e6 + 0.5) / 1e6
            )
            out[label] = (
                a["n"], a["nullv"], len(a["dims"]), a["dmin"], a["dmax"],
                a["nullc"], a["bad"], a["zero"],
                rnd(min(a["norms"])) if a["norms"] else None,
                rnd(max(a["norms"])) if a["norms"] else None,
            )
        return out

    got = {
        r.label: (
            r.n_vecs, r.n_null_vec, r.n_dims_distinct, r.dim_min,
            r.dim_max, r.n_null_component, r.n_nonfinite, r.n_zero_norm,
            r.norm_min, r.norm_max,
        )
        for r in embedding_audit(
            spark.createDataFrame(rows, "label int, v array<double>")
        ).collect()
    }
    assert got == replay()


def test_render_prometheus_nonfinite_literals(spark):
    """Review finding #3's pin: NaN/Inf samples render as exposition
    literals instead of crashing the scrape."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        render_prometheus,
    )

    df = spark.createDataFrame(
        [("a_nan", float("nan")), ("b_inf", float("inf")),
         ("c_ninf", float("-inf"))],
        "metric string, value double",
    )
    got = render_prometheus(df, help_texts={})
    assert "a_nan NaN\n" in got
    assert "b_inf +Inf\n" in got
    assert "c_ninf -Inf\n" in got


def test_m18_empty_table_stable(spark, tmp_path):
    """m18 over an empty events table: the NULL anchor empties every
    window — all 9 metrics still come back, counts/up/throughput as
    0-gauges, latencies and the anomaly rate NULL (unknowable, not 0),
    and the renderer skips the NULLs instead of crashing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_big_data_engineering_spark.operators.monitoring import (
        m18_metrics_export,
        render_prometheus,
    )

    empty = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(empty, str(tmp_path / "events.parquet"))
    df = m18_metrics_export(spark, str(tmp_path))
    rows = {r.metric: r.value for r in df.collect()}
    assert len(rows) == 9
    assert rows["iot_recent_records_5m"] == 0.0
    assert rows["iot_up"] == 0.0
    assert rows["iot_records_last_minute"] == 0.0
    assert rows["iot_throughput_ok"] == 0.0
    assert rows["iot_records_1h"] == 0.0
    assert rows["iot_anomaly_count_1h"] == 0.0
    assert rows["iot_latency_seconds_avg_1h"] is None
    assert rows["iot_latency_seconds_max_1h"] is None
    assert rows["iot_anomaly_rate_1h"] is None
    text = render_prometheus(df)
    assert "iot_up 0\n" in text
    assert "latency" not in text  # NULL samples skipped


def test_render_prometheus_repeated_metric_one_type_line(spark):
    """Review #5b pin: a frame carrying the same metric name twice must
    emit ONE HELP/TYPE block for the family — a second TYPE line is
    invalid exposition the Prometheus parser rejects."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        render_prometheus,
    )

    df = spark.createDataFrame(
        [("m_x", 1.0), ("m_x", 2.0), ("m_y", 3.0)],
        "metric string, value double",
    )
    got = render_prometheus(df, help_texts={"m_x": "twice"})
    assert got.count("# TYPE m_x gauge") == 1
    assert got.count("# HELP m_x twice") == 1
    assert got.count("\nm_x ") + got.startswith("m_x ") == 2  # both samples
    assert "# TYPE m_y gauge" in got


def test_alert_fanout_unknown_severity_degrades(spark):
    """Review #3b pin: an unknown severity renders with the neutral
    fallback color instead of KeyError-ing the whole fan-out cycle —
    route_alert accepts any severity string, so the formatter must
    too."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        _SLACK_DEFAULT_COLOR,
        alert_payloads,
    )

    alerts = spark.createDataFrame(
        [("weird_alert", 1.0, 2.0, "NOTICE")],
        "alert_type string, metric_value double, threshold double,"
        " severity string",
    )
    got = alert_payloads(alerts, ts_iso="2026-08-15T12:00:00",
                         ts_epoch=1786795200)
    assert got[0]["channels"] == ["slack", "store"]  # not CRITICAL
    assert (
        got[0]["slack"]["attachments"][0]["color"] == _SLACK_DEFAULT_COLOR
    )


def test_m10_m14_m15_empty_table_stable(spark, tmp_path):
    """The r10-queued ANSI guards (VERDICT r10 Next #2): m10/m14's rate
    columns and m15's single-pass metrics divide by the trailing-window
    count, which is 0 over an empty events table — default-ANSI Spark 4
    raises DIVIDE_BY_ZERO there instead of returning NULL. With m18's
    guard template every rate is explicitly NULL (unknowable, not 0),
    counts are 0, and m15 emits exactly the one alert whose predicate an
    empty window CAN decide: low_throughput (0 < threshold)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_big_data_engineering_spark.operators.monitoring import (
        m10_hourly_quality,
        m14_anomaly_rate,
        m15_alerts,
    )

    empty = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(empty, str(tmp_path / "events.parquet"))

    r10 = m10_hourly_quality(spark, str(tmp_path)).collect()
    assert len(r10) == 1
    assert r10[0].avg_quality is None
    assert r10[0].total_records == 0
    assert r10[0].low_quality_count == 0
    assert r10[0].low_quality_rate is None

    r14 = m14_anomaly_rate(spark, str(tmp_path)).collect()
    assert len(r14) == 1
    assert r14[0].total_records == 0
    assert r14[0].anomaly_count == 0
    assert r14[0].anomaly_rate is None

    r15 = m15_alerts(spark, str(tmp_path)).collect()
    assert [a.alert_type for a in r15] == ["low_throughput"]
    assert r15[0].metric_value == 0.0


def test_dq3_empty_tables_stable(spark, tmp_path):
    """r11 division audit: dq3's orphan_share divides two non-NULL
    counts, so an EMPTY child table raised ANSI DIVIDE_BY_ZERO (the
    m10/m18 hazard class) — guarded, the audit now reports every edge
    with zero counts and a NULL share (unknowable, not 0)."""
    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ3_EDGES,
        dq3_referential_audit,
    )
    from iot_big_data_engineering_spark.sources.tables import (
        TESTDATA_SCHEMAS,
    )

    for t in {"orders", "customer", "lineitem", "supplier", "part",
              "nation", "region"}:
        spark.createDataFrame([], TESTDATA_SCHEMAS[t]).coalesce(1) \
            .write.parquet(str(tmp_path / f"{t}.parquet"))
    rows = dq3_referential_audit(spark, str(tmp_path)).collect()
    assert len(rows) == len(_DQ3_EDGES)
    for r in rows:
        assert r.child_rows == 0
        assert r.orphan_rows == 0
        assert r.orphan_share is None


# ---------------------------------------------------------------------------
# dq9 PSI drift
# ---------------------------------------------------------------------------
def _knuth_side(key: int) -> int:
    return (key * 2654435761) % (2**32) % 2


def test_dq9_planted_shift_trips_and_stable_stays(spark):
    """Two types over the same deterministic id stream: 'steady' draws
    the SAME value law on both snapshot halves (psi must sit under the
    0.1 watch threshold), 'shifted' moves every side-B row above every
    side-A decile (all B mass lands in the top bin — psi must clear the
    0.25 major threshold). The Knuth split is replayed in Python so the
    per-side row counts are known a priori."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ9_ORACLE,
        psi_drift,
    )

    rows = []
    for i in range(1, 1001):
        rows.append((i, "steady", float(i % 100)))
    for i in range(1001, 2001):
        v = float(i % 100) if _knuth_side(i) == 0 else 5000.0 + i
        rows.append((i, "shifted", v))
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    df = spark.createDataFrame(pdf)
    got = {r.event_type: r for r in psi_drift(df).collect()}

    n_a_steady = sum(1 for i in range(1, 1001) if _knuth_side(i) == 0)
    st = got["steady"]
    assert (st.n_a, st.n_b) == (n_a_steady, 1000 - n_a_steady)
    assert st.psi < 0.1 and st.verdict == "stable"
    sh = got["shifted"]
    assert sh.psi >= 0.25 and sh.verdict == "major"

    con = duckdb.connect()
    con.register("events", pdf)
    du = sorted(map(tuple, con.execute(_DQ9_ORACLE).fetchall()))
    sp = sorted(map(tuple, psi_drift(df).collect()))
    assert sp == du


def test_dq9_type_without_baseline_rows_is_excluded(spark):
    """A type whose rows all hash to side B has no baseline distribution
    — excluded by contract (surfacing new types is a cardinality audit's
    job, not a PSI's), identically on both engines."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ9_ORACLE,
        psi_drift,
    )

    b_only = [i for i in range(1, 200) if _knuth_side(i) == 1][:20]
    rows = [(i, "new_type", float(i)) for i in b_only]
    rows += [(1000 + i, "old", float(i % 7)) for i in range(100)]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    out = psi_drift(spark.createDataFrame(pdf)).collect()
    assert {r.event_type for r in out} == {"old"}
    con = duckdb.connect()
    con.register("events", pdf)
    du = sorted(map(tuple, con.execute(_DQ9_ORACLE).fetchall()))
    assert sorted(map(tuple, out)) == du


def test_dq9_empty_and_null_inputs_stable(spark):
    """Empty events → empty result with the pinned schema (no
    percentile-over-nothing, no divide-by-zero — the Laplace smoothing
    and the inner baseline join make every path vacuous); NULL values
    are excluded before binning, NULL event_ids fall in neither side's
    count, and NULL event_types are excluded up front on BOTH engines
    (ADVICE r15 #3: without the filter the NULL-type group emits an
    identical row at a different sort position — Spark orders NULLS
    FIRST, DuckDB NULLS LAST — so the op's ORDER BY would diverge
    under an order-sensitive comparison)."""
    import duckdb

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ9_ORACLE,
        psi_drift,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    out = psi_drift(empty)
    assert out.columns == ["event_type", "n_a", "n_b", "psi", "verdict"]
    assert out.count() == 0

    # event_id stays INT64 with a true NULL (a pandas None would silently
    # coerce the column to float64, and float modulo is not the op's
    # domain — load_table only ever yields integer ids). The NULL-type
    # rows span both hash sides so the exclusion is exercised on the
    # baseline (edge-building) path AND the binned path.
    import pyarrow as pa

    rows = [
        (i, "t", None if i % 5 == 0 else float(i % 13))
        for i in range(1, 301)
    ] + [(None, "t", 1.0)] + [
        (1000 + i, None, float(i)) for i in range(40)
    ]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    sp_rows = psi_drift(spark.createDataFrame(rows, schema)).collect()
    assert {r.event_type for r in sp_rows} == {"t"}  # NULL type gone
    sp = sorted(map(tuple, sp_rows))
    con = duckdb.connect()
    con.register("events", tab)
    du = sorted(map(tuple, con.execute(_DQ9_ORACLE).fetchall()))
    assert sp == du


def test_dq9_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ9_ORACLE,
        dq9_psi_drift,
    )

    sp = sorted(map(tuple, dq9_psi_drift(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DQ9_ORACLE).fetchall()))
    assert sp == du


# ---------------------------------------------------------------------------
# dq10 categorical composition drift
# ---------------------------------------------------------------------------
def test_dq10_shifted_mix_trips_and_balanced_stays(spark):
    """Two constructions over the same deterministic id stream: a
    'balanced' corpus whose type mix is IDENTICAL on both halves by
    construction (every type gets the same ids-per-side census, so every
    share_delta is ~0 and the mix verdict is stable), and a 'shifted'
    corpus where one type exists almost only on side B — its share delta
    must clear the 5 ppt alert line and the total JS the 0.01 watch
    line. Cross-engine parity on both."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ10_ORACLE,
        composition_drift,
    )

    a_ids = [i for i in range(1, 4001) if _knuth_side(i) == 0]
    b_ids = [i for i in range(1, 4001) if _knuth_side(i) == 1]
    # balanced: types x/y each take the same per-side quota
    rows = [(i, "x", 1.0) for i in a_ids[:500] + b_ids[:500]]
    rows += [(i, "y", 1.0) for i in a_ids[500:1000] + b_ids[500:1000]]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    out = {
        r.event_type: r
        for r in composition_drift(spark.createDataFrame(pdf)).collect()
    }
    assert out["x"].mix_verdict == "stable"
    assert all(r.type_verdict == "stable" for r in out.values())
    assert out["x"].cnt_a == out["x"].cnt_b == 500
    con = duckdb.connect()
    con.register("events", pdf)
    du = sorted(map(tuple, con.execute(_DQ10_ORACLE).fetchall()))
    assert sorted(tuple(r) for r in out.values()) == du

    # shifted: type z rides side B only (plus x/y balanced as above)
    rows2 = rows + [(i, "z", 1.0) for i in b_ids[1000:1400]]
    pdf2 = pd.DataFrame(rows2, columns=["event_id", "event_type", "value"])
    out2 = {
        r.event_type: r
        for r in composition_drift(spark.createDataFrame(pdf2)).collect()
    }
    assert out2["z"].cnt_a == 0 and out2["z"].cnt_b == 400
    assert out2["z"].type_verdict == "alert"       # ~28.6 ppt delta
    assert out2["z"].mix_verdict in ("watch", "alert")
    assert out2["z"].js_total >= 0.01
    con2 = duckdb.connect()
    con2.register("events", pdf2)
    du2 = sorted(map(tuple, con2.execute(_DQ10_ORACLE).fetchall()))
    assert sorted(tuple(r) for r in out2.values()) == du2


def test_dq10_empty_and_null_inputs_stable(spark):
    """Empty events → empty result with the pinned schema (the Laplace
    smoothing means no path divides by zero even with rows; with NO
    rows every downstream frame is vacuous); NULL event_type is
    excluded up front (the dq9/ADVICE-r15 NULLS-placement lesson, baked
    in from day one) and a NULL event_id counts in NEITHER side while
    keeping its type enumerated — identically on both engines."""
    import duckdb
    import pyarrow as pa

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ10_ORACLE,
        composition_drift,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    out = composition_drift(spark.createDataFrame([], schema))
    assert out.columns == [
        "event_type", "cnt_a", "cnt_b", "p_a", "p_b", "share_delta",
        "js_term", "js_total", "type_verdict", "mix_verdict",
    ]
    assert out.count() == 0

    rows = [(i, "t" if i % 3 else None, None) for i in range(1, 301)]
    rows += [(None, "only_null_id", 1.0)]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    got = composition_drift(spark.createDataFrame(rows, schema)).collect()
    by_type = {r.event_type: r for r in got}
    assert set(by_type) == {"t", "only_null_id"}   # NULL type excluded
    onl = by_type["only_null_id"]
    assert (onl.cnt_a, onl.cnt_b) == (0, 0)        # NULL id: neither side
    con = duckdb.connect()
    con.register("events", tab)
    du = sorted(map(tuple, con.execute(_DQ10_ORACLE).fetchall()))
    assert sorted(map(tuple, got)) == du


def test_dq10_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ10_ORACLE,
        dq10_composition_drift,
    )

    sp = sorted(map(tuple, dq10_composition_drift(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DQ10_ORACLE).fetchall()))
    assert sp == du


def test_dq10_js_invariants_on_gate_data(spark):
    """Jensen–Shannon bounds on the gate data: every per-type term is
    ≥ 0 (JS terms are pointwise non-negative) and the total obeys
    0 ≤ js_total ≤ ln 2 (+ half a rounding grid); the smoothed
    proportions each lie in (0, 1) and the js_total constant column is
    identical on every row."""
    import math

    from iot_big_data_engineering_spark.operators.advanced import (
        dq10_composition_drift,
    )

    rows = dq10_composition_drift(spark, SF_SMOKE).collect()
    assert rows
    g = 0.5e-6
    totals = {r.js_total for r in rows}
    assert len(totals) == 1
    assert -g <= totals.pop() <= math.log(2.0) + g
    for r in rows:
        assert r.js_term >= -g, r
        assert 0.0 < r.p_a < 1.0 and 0.0 < r.p_b < 1.0, r
        assert r.mix_verdict in ("stable", "watch", "alert"), r


# ---------------------------------------------------------------------------
# dq11 CUSUM changepoint localization
# ---------------------------------------------------------------------------
def test_dq11_planted_level_shift_localized(spark):
    """A clean level shift (daily mean 10 for days 1-10, 50 for days
    11-20) must localize to cp_day = day 10 — the last pre-shift day,
    the argmax-|S_k| convention — with the exact before/after means and
    an alert verdict; a flat second type stays stable with its tie-
    broken k = 1. Cross-engine parity on the same frame."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ11_ORACLE,
        cusum_changepoint,
    )

    rows = []
    eid = 0
    for d in range(1, 21):
        mean = 10.0 if d <= 10 else 50.0
        for delta in (-0.5, 0.5):  # two rows/day, exact daily mean
            eid += 1
            rows.append(
                (eid, "shift", dt.datetime(2024, 3, d, 12, 0), mean + delta)
            )
            eid += 1
            rows.append((eid, "flat", dt.datetime(2024, 3, d, 12, 0), 7.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts", "value"])
    out = {
        r.event_type: r
        for r in cusum_changepoint(spark.createDataFrame(pdf)).collect()
    }
    s = out["shift"]
    assert s.n_days == 20
    assert s.cp_day == dt.date(2024, 3, 10)
    assert s.mean_before == 10.0 and s.mean_after == 50.0
    assert s.mean_shift == 40.0
    # x̄ = 30, |S_10| = 10·20 = 200, rel = 40/30
    assert s.cusum_max == 200.0
    assert s.cp_verdict == "alert"
    f = out["flat"]
    assert f.cusum_max == 0.0 and f.cp_verdict == "stable"
    assert f.cp_day == dt.date(2024, 3, 1)  # all-zero S ties break to k=1
    assert f.mean_shift == 0.0
    con = duckdb.connect()
    con.register("events", pdf)
    du = sorted(map(tuple, con.execute(_DQ11_ORACLE).fetchall()))
    assert sorted(tuple(r) for r in out.values()) == du


def test_dq11_empty_null_and_single_day_inputs(spark):
    """Empty events → empty frame with the pinned schema; NULL
    value/type/ts rows are excluded up front (the dq9/dq10 lesson), and
    a type observed on a single day has no interior changepoint and
    drops by contract (D ≥ 2) — identically on both engines."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ11_ORACLE,
        cusum_changepoint,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    out = cusum_changepoint(spark.createDataFrame([], schema))
    assert out.columns == [
        "event_type", "n_days", "cp_day", "cusum_max", "mean_before",
        "mean_after", "mean_shift", "rel_shift", "cp_verdict",
    ]
    assert out.collect() == []

    t1 = dt.datetime(2024, 3, 1, 12, 0)
    t2 = dt.datetime(2024, 3, 2, 12, 0)
    rows = [
        (1, "ok", t1, 5.0), (2, "ok", t2, 5.0),      # survives, D=2
        (3, "oneday", t1, 5.0), (4, "oneday", t1, 9.0),  # D=1 → drops
        (5, None, t1, 5.0), (6, None, t2, 5.0),      # NULL type → excluded
        (7, "nulls", None, 5.0), (8, "nulls", t1, None),  # D=1 after filters
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts", "value"])
    got = cusum_changepoint(spark.createDataFrame(pdf)).collect()
    assert [r.event_type for r in got] == ["ok"]
    con = duckdb.connect()
    con.register("events", pdf)
    du = sorted(map(tuple, con.execute(_DQ11_ORACLE).fetchall()))
    assert sorted(map(tuple, got)) == du


def test_dq11_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ11_ORACLE,
        dq11_cusum_changepoint,
    )

    sp = sorted(map(tuple, dq11_cusum_changepoint(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DQ11_ORACLE).fetchall()))
    assert sp == du
    assert sp  # every gate type spans 30 days


def test_dq11_cusum_invariants_on_gate_data(spark):
    """Structural bounds on the gate data: cp_day is strictly inside
    the observed span (never the last day — k ≤ D−1), cusum_max ≥ 0,
    rel_shift = |mean_shift| / max(|x̄|, 1) ≥ 0, and the verdict CASE
    matches its own rounded operand."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq11_cusum_changepoint,
    )

    rows = dq11_cusum_changepoint(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_days >= 2, r
        assert r.cusum_max >= 0.0, r
        assert r.rel_shift >= 0.0, r
        want = (
            "alert" if r.rel_shift >= 0.20
            else "watch" if r.rel_shift >= 0.05 else "stable"
        )
        assert r.cp_verdict == want, r


# ---------------------------------------------------------------------------
# dq12 Benford first-digit audit
# ---------------------------------------------------------------------------
def test_dq12_conforming_vs_uniform_digits(spark):
    """A 10,000-row frame whose digit census is the rounded Benford
    expectation must grade 'close' (MAD ≈ 3e-5); nine uniform digits
    must grade 'nonconforming' with the closed-form MAD — computed
    independently here in Python from the same constants. Cross-engine
    parity on both frames, including boundary cent values (0.01 and a
    full 12,2 magnitude)."""
    import duckdb
    import math
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ12_EXP,
        _DQ12_ORACLE,
        benford_audit,
    )

    census = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669,
              7: 580, 8: 512, 9: 458}
    assert sum(census.values()) == 10_000
    rows = []
    for d, n in census.items():
        rows += [float(d)] * n
    pdf = pd.DataFrame({"o_totalprice": rows})
    got = benford_audit(spark.createDataFrame(pdf), "o_totalprice").collect()
    assert [r.digit for r in got] == list(range(1, 10))
    assert got[0].conformity == "close"
    assert {r.n_obs for r in got} == set(census.values())
    con = duckdb.connect()
    con.register("orders", pdf)
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, con.execute(_DQ12_ORACLE).fetchall())
    )

    # uniform digits, with cent-boundary magnitudes: 0.01 → digit 1,
    # 999999999.99 overflows DECIMAL(12,2)? no — 12 digits holds it;
    # use 9999999.99 → digit 9; 10.0 → digit 1
    uni = pd.DataFrame(
        {"o_totalprice": [0.01, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0,
                          9999999.99]}
    )
    got2 = benford_audit(spark.createDataFrame(uni), "o_totalprice").collect()
    mad = sum(abs(1.0 / 9.0 - p) for p in _DQ12_EXP.values()) / 9.0
    exp_mad = math.floor(mad * 1e6 + 0.5) / 1e6
    assert got2[0].mad == exp_mad and exp_mad > 0.015
    assert got2[0].conformity == "nonconforming"
    assert all(r.n_obs == 1 for r in got2)
    con2 = duckdb.connect()
    con2.register("orders", uni)
    assert sorted(map(tuple, got2)) == sorted(
        map(tuple, con2.execute(_DQ12_ORACLE).fetchall())
    )


def test_dq12_empty_and_nonpositive_inputs(spark):
    """Empty input and all-non-positive input both yield the EMPTY
    frame with the pinned schema (the n > 0 guard removes the dense
    digit scaffold) — identically on both engines."""
    import duckdb
    import pandas as pd

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ12_ORACLE,
        benford_audit,
    )

    cols = ["digit", "n_obs", "p_obs", "p_exp", "dev", "mad", "tvd",
            "chi2", "conformity"]
    for vals in ([], [0.0, -12.5, None]):
        pdf = pd.DataFrame({"o_totalprice": pd.Series(vals, dtype="float64")})
        out = benford_audit(
            spark.createDataFrame(pdf, "o_totalprice double"), "o_totalprice"
        )
        assert out.columns == cols
        assert out.collect() == []
        con = duckdb.connect()
        con.register("orders", pdf)
        assert con.execute(_DQ12_ORACLE).fetchall() == []


def test_dq12_matches_oracle_on_gate_data(spark):
    import duckdb

    from iot_big_data_engineering_spark.operators.advanced import (
        _DQ12_ORACLE,
        dq12_benford_audit,
    )

    sp = sorted(map(tuple, dq12_benford_audit(spark, SF_SMOKE).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    )
    du = sorted(map(tuple, con.execute(_DQ12_ORACLE).fetchall()))
    assert sp == du
    assert len(sp) == 9
    # the synthetic near-uniform price generator is exactly what a
    # Benford audit should flag
    assert sp[0][-1] in ("marginal", "nonconforming")
