"""Mergeable-state rollups (operators/sketches.py): the maintenance
algebra must be exactly associative — any partitioning of the input rows,
aggregated independently and merged, must equal the single-shot aggregate.
(Driver-facing output parity for a17/a18 is covered by the oracle mirror
in test_oracle_parity.py; these tests pin the algebra itself.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.sketches import (
    _partial_state,
    a17_incremental_rollup,
    a18_sketch_cube,
    merge_states,
)
from iot_big_data_engineering_spark.sources.sensor_view import quality_checked

from .conftest import SF_SMOKE


def _finalized(state):
    """Finalize a state table into comparable values. HLL register state
    is a pure max over hashed items, so the union of disjoint parts must
    ESTIMATE identically to the single-shot sketch (byte equality is not
    contractual — sparse/dense promotion may differ)."""
    return {
        r["sensor_type"]: (
            r["n"],
            r["sq"],
            r["sq2"],
            r["min_ts"],
            r["max_ts"],
            r["est"],
        )
        for r in state.withColumn(
            "est", F.hll_sketch_estimate("veh_sketch")
        ).collect()
    }


def test_merge_states_three_way_split_equals_single_shot(spark):
    q = quality_checked(spark, SF_SMOKE)
    parts = [
        _partial_state(q.filter(F.pmod(F.xxhash64("sensor_id", "ts"), F.lit(3)) == i))
        for i in range(3)
    ]
    merged = _finalized(merge_states(*parts))
    direct = _finalized(_partial_state(q))
    assert merged == direct


def test_merge_states_is_idempotent_over_regrouping(spark):
    """Merging (merge(p0, p1), p2) == merge(p0, p1, p2): re-merging an
    already-merged state is the daily maintenance step, so the state
    schema must be closed under merge_states."""
    q = quality_checked(spark, SF_SMOKE)
    parts = [
        _partial_state(q.filter(F.pmod(F.xxhash64("sensor_id", "ts"), F.lit(3)) == i))
        for i in range(3)
    ]
    staged = merge_states(merge_states(parts[0], parts[1]), parts[2])
    flat = merge_states(*parts)
    assert _finalized(staged) == _finalized(flat)


def test_a17_a18_certificates_hold(spark):
    a17 = a17_incremental_rollup(spark, SF_SMOKE)
    assert a17.filter(~F.col("sketch_within_3rse")).count() == 0
    a18 = a18_sketch_cube(spark, SF_SMOKE)
    rows = a18.collect()
    assert all(r["sketch_within_3rse"] for r in rows)
    # the ROLLUP lattice carries exactly one grand-total row, and its
    # record_count is the sum of the per-type rows
    totals = [r for r in rows if r["sensor_type"] is None]
    assert len(totals) == 1
    per_type = [r for r in rows if r["sensor_type"] is not None]
    assert totals[0]["record_count"] == sum(r["record_count"] for r in per_type)


def test_maintain_rollup_state_accumulates_and_is_replay_idempotent(
    spark, tmp_path
):
    """Path-backed maintenance: feeding three disjoint periods must merge
    to the single-shot state, and replaying a period must change
    nothing."""
    import iot_big_data_engineering_spark.operators.sketches as sk

    q = quality_checked(spark, SF_SMOKE)
    parts = [
        q.filter(F.pmod(F.xxhash64("sensor_id", "ts"), F.lit(3)) == i)
        for i in range(3)
    ]
    path = str(tmp_path / "state")
    for i, p in enumerate(parts):
        merged = sk.maintain_rollup_state(spark, path, p, epoch_id=i)
    direct = _finalized(sk._partial_state(q))
    assert _finalized(merged) == direct
    # replay period 1: state must be unchanged
    replayed = sk.maintain_rollup_state(spark, path, parts[1], epoch_id=1)
    assert _finalized(replayed) == direct


def test_compact_rollup_state_is_value_transparent(spark, tmp_path):
    """Compacting N period partitions into one must not change the merged
    value, must leave exactly the compacted partition on disk, and a
    delivery AFTER compaction must still merge cleanly (a17c's contract,
    unit form)."""
    import os

    import iot_big_data_engineering_spark.operators.sketches as sk

    q = quality_checked(spark, SF_SMOKE)
    parts = [
        q.filter(F.pmod(F.xxhash64("sensor_id", "ts"), F.lit(3)) == i)
        for i in range(3)
    ]
    path = str(tmp_path / "state")
    for i, p in enumerate(parts[:2]):
        merged = sk.maintain_rollup_state(spark, path, p, epoch_id=i)
    before = _finalized(merged)
    sk.compact_rollup_state(spark, path)
    assert _finalized(
        sk.merge_states(spark.read.parquet(path).drop("epoch_id"))
    ) == before
    # exactly one (negative) period partition remains
    pdirs = [d for d in os.listdir(path) if d.startswith("epoch_id=")]
    assert pdirs == ["epoch_id=-1"], pdirs
    # post-compaction delivery still merges to the full recompute
    merged = sk.maintain_rollup_state(spark, path, parts[2], epoch_id=2)
    assert _finalized(merged) == _finalized(sk._partial_state(q))


# ---------------------------------------------------------------------------
# a22 count-min sketch (round-8 addition)
# ---------------------------------------------------------------------------
def test_cms_overestimates_under_forced_collisions(spark):
    """With width=2 every key collides; CMS must still satisfy its
    one-sided guarantee (estimate >= true count for EVERY key) and the
    bucket sums must conserve the total (each depth row counts every
    event exactly once)."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.sketches import (
        _cms_bucket,
        cms_table,
    )

    rows = [(i, i % 7) for i in range(200)]  # 7 keys, skewed none
    ev = spark.createDataFrame(rows, "event_id long, user_id long")
    cms = cms_table(ev, depth=3, width=2).collect()
    # conservation: every depth row sums to |events|
    by_depth = {}
    for r in cms:
        by_depth[r.depth] = by_depth.get(r.depth, 0) + r.cnt
    assert by_depth == {0: 200, 1: 200, 2: 200}

    # point estimates: min over depths of the key's bucket counter
    cnts = {(r.depth, r.bucket): r.cnt for r in cms}
    probe = (
        ev.select("user_id")
        .distinct()
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .select(
            "user_id", "d", _cms_bucket(F.col("user_id"), F.col("d"), 2).alias("b")
        )
        .collect()
    )
    import collections

    true = collections.Counter(u for _, u in rows)
    est = collections.defaultdict(lambda: float("inf"))
    for r in probe:
        est[r.user_id] = min(est[r.user_id], cnts[(r.d, r.b)])
    for u, t in true.items():
        assert est[u] >= t, (u, est[u], t)


def test_cms_merge_equals_onepass_on_synthetic_split(spark):
    """Summing two independently-built half sketches must equal the
    one-pass sketch counter-for-counter — the mergeable-state property
    a22's certificate hashes."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.sketches import cms_table

    ev = spark.createDataFrame(
        [(i, (i * 13) % 11) for i in range(500)], "event_id long, user_id long"
    )
    one = {
        (r.depth, r.bucket): r.cnt for r in cms_table(ev, width=8).collect()
    }
    halves = (
        cms_table(ev.filter(F.col("event_id") % 2 == 0), width=8)
        .unionByName(cms_table(ev.filter(F.col("event_id") % 2 == 1), width=8))
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    merged = {(r.depth, r.bucket): r.cnt for r in halves}
    assert merged == one


def test_a22_on_empty_events(spark, tmp_path):
    """Stable schema + zero rows on an empty events table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_big_data_engineering_spark.operators.sketches import (
        a22_cms_heavy_hitters,
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
    df = a22_cms_heavy_hitters(spark, str(tmp_path))
    assert df.columns == [
        "user_id", "true_count", "cms_estimate", "overestimate",
        "merge_consistent",
    ]
    assert df.count() == 0


def test_cms_bucket_overflow_exact_at_int64_boundary(spark):
    """The seeded bucket hash must agree across engines for keys within
    depth*SEED of the int64 boundary — a raw key + d*P addition wraps on
    Spark and raises on DuckDB (the r8 code-review finding)."""
    import duckdb

    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.sketches import (
        _CMS_D,
        _cms_bucket,
        _cms_bucket_sql,
    )

    keys = [2**63 - 1, 2**63 - 1_000_003, -(2**63), 0, 2**32 - 1, 123456789]
    got = {
        (r.k, r.d): r.b
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))))
        .select("k", "d", _cms_bucket(F.col("k"), F.col("d")).alias("b"))
        .collect()
    }
    con = duckdb.connect()
    frag = _cms_bucket_sql("k", "d")
    duck = {
        (k, d): b
        for k, d, b in con.execute(
            f"SELECT k, d, {frag} % 1024 AS b"
            f" FROM (SELECT unnest(?::BIGINT[]) AS k),"
            f" (SELECT unnest(range({_CMS_D})) AS d)",
            [keys],
        ).fetchall()
    }
    spark_mod = {kk: v % 1024 for kk, v in got.items()}
    assert spark_mod == duck


# a23 incremental join-view maintenance (round-8 addition)

def test_a23_split_is_non_degenerate_at_gate_sfs(spark):
    """The maintenance certificate is only meaningful if BOTH branches
    contribute (the st8 lesson: a single-batch run certifies nothing
    about the merge). At both gate SFs the lineitem corpus must span
    more than one ship-month, so history and delta are each non-empty."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.sources.tables import load_table

    from .conftest import SF_CORRECT, SF_SMOKE

    for sf in (SF_SMOKE, SF_CORRECT):
        l = load_table(spark, sf, "lineitem").select(
            F.date_trunc("month", "l_shipdate").alias("m")
        )
        split = l.agg(F.max("m").alias("mx")).collect()[0].mx
        n_hist = l.filter(F.col("m") < F.lit(split)).count()
        n_delta = l.filter(F.col("m") >= F.lit(split)).count()
        assert n_hist > 0 and n_delta > 0, (sf, split, n_hist, n_delta)


def test_a23_merged_equals_direct_join_recompute(spark):
    """Independent in-Spark recompute (one plain join + aggregate, no
    split/merge) must equal the maintained view row-for-row — the same
    equality the DuckDB oracle checks, but engine-internal, so a
    decimal-vs-double or merge-algebra regression localizes here."""
    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.functions.rounding import fround
    from iot_big_data_engineering_spark.operators.joins import _disc_price
    from iot_big_data_engineering_spark.operators.sketches import (
        a23_incremental_join_view,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, SF_SMOKE, "lineitem")
    direct = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.date_trunc("month", "l_shipdate").alias("ship_month"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            fround(F.sum(_disc_price()).cast("double"), 2).alias("revenue"),
        )
    )
    key = lambda r: (r.ship_month, r.o_orderpriority)  # noqa: E731
    got = sorted(
        a23_incremental_join_view(spark, SF_SMOKE).collect(), key=key
    )
    want = sorted(direct.collect(), key=key)
    assert got == want and len(got) > 0


def test_compaction_noop_on_all_empty_state(spark, tmp_path):
    """r13 empty-corpus audit finding: an all-empty state table (every
    delivery was an empty delta) holds no data files, so the compactor's
    schema inference would raise UNABLE_TO_INFER_SCHEMA — compaction of
    nothing is a no-op by definition, and a later real delivery must
    still merge cleanly."""
    import os

    from pyspark.sql import functions as F

    from iot_big_data_engineering_spark.operators.sketches import (
        compact_rollup_state,
        maintain_rollup_state,
    )
    from iot_big_data_engineering_spark.sources.sensor_view import (
        quality_checked,
    )
    from tests.conftest import SF_SMOKE

    state = str(tmp_path / "state")
    q = quality_checked(spark, SF_SMOKE)
    empty = q.filter(F.lit(False))
    merged = maintain_rollup_state(spark, state, empty, 0)
    assert merged.count() == 0
    compact_rollup_state(spark, state)  # must not raise, must not swap
    assert os.path.isdir(state)
    # a real delivery after the no-op compaction merges normally
    merged = maintain_rollup_state(spark, state, q, 1)
    assert merged.count() > 0
