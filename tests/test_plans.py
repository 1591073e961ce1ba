"""Physical-plan regression tests — the mechanical form of "would this
survive a 100× scale-up": filters push to parquet scans, projections
prune columns, dimension joins broadcast, no accidental cartesian
products, hot aggregations stay in whole-stage codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.joins import (
    j3_shipping_priority,
    j5_region_supplier_volume,
    j11_brand_revenue,
    j13_events_enriched,
)
from iot_big_data_engineering_spark.operators.serving import p7_vehicle_scan
from iot_big_data_engineering_spark.operators.analytics import a2_daily_analytics
from iot_big_data_engineering_spark.plans.checks import (
    assert_broadcast_join,
    assert_hint_count,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_read_schema_only,
    assert_whole_stage_codegen,
    plan_str,
)
from iot_big_data_engineering_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_dimension_joins_broadcast(spark):
    # allowed hints: fixed-cardinality tables only (j13's nation). The
    # SF-scaled sides (customer/supplier/part) carry NO hint, and the
    # planner must still CHOOSE broadcast at this SF from size stats —
    # both halves of the 100 TB policy.
    for q, allowed in (
        (j3_shipping_priority, 0),
        (j5_region_supplier_volume, 0),
        (j11_brand_revenue, 0),
        (j13_events_enriched, 1),
    ):
        df = q(spark, SF_SMOKE)
        assert_hint_count(df, allowed)
        assert_broadcast_join(df)
        assert_no_cartesian(df)


def test_filter_pushdown_to_parquet(spark):
    l = load_table(spark, SF_SMOKE, "lineitem")
    df = l.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert_pushed_filter(df, "l_quantity")


def test_column_pruning(spark):
    l = load_table(spark, SF_SMOKE, "lineitem")
    df = l.select("l_orderkey", "l_quantity")
    assert_read_schema_only(
        df, "lineitem.parquet", {"l_orderkey", "l_quantity"}
    )


def test_serving_scan_prunes_and_pushes(spark):
    # vehicle filter applies post-projection (format_string), but the
    # events scan must still prune to the used columns only
    df = p7_vehicle_scan(spark, SF_SMOKE)
    assert_read_schema_only(
        df,
        "events.parquet",
        {"event_id", "ts", "user_id", "event_type", "value", "props"},
    )


def test_aggregations_codegen(spark):
    # AQE wraps the plan in AdaptiveSparkPlan before execution, hiding the
    # codegen stage markers — toggle it off just for the plan inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert_whole_stage_codegen(a2_daily_analytics(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_partial_aggregation_before_shuffle(spark):
    """The daily analytics agg must plan partial (map-side) aggregation —
    at 100 TB the shuffle carries group rows, not input rows."""
    p = plan_str(a2_daily_analytics(spark, SF_SMOKE), mode="simple")
    assert p.count("HashAggregate") >= 2, p  # partial + final


def test_new_join_queries_broadcast_and_no_cartesian(spark):
    from iot_big_data_engineering_spark.operators.joins import (
        j2_min_price_per_brand,
        j14_promo_revenue,
        j18_large_orders,
        j19_bracket_revenue,
    )

    # j2's one allowed hint is the per-brand min (bounded brand enum)
    for q, allowed in (
        (j2_min_price_per_brand, 1),
        (j14_promo_revenue, 0),
        (j19_bracket_revenue, 0),
    ):
        df = q(spark, SF_SMOKE)
        assert_hint_count(df, allowed)
        assert_broadcast_join(df)
        assert_no_cartesian(df)
    df18 = j18_large_orders(spark, SF_SMOKE)
    assert_hint_count(df18, 0)
    assert_no_cartesian(df18)


def test_tpch_round2_joins_broadcast_and_no_cartesian(spark):
    from iot_big_data_engineering_spark.operators.joins import (
        j8_market_share,
        j9_profit_by_nation,
        j13b_order_count_distribution,
        j16_supplier_part_counts,
        j21_lone_late_supplier,
    )

    # allowed hints: j8 = ns/nc nation + region, j9 = nation,
    # j21 = filtered nation; j16/j13b join only SF-scaled tables → 0
    for q, allowed in (
        (j8_market_share, 3),
        (j9_profit_by_nation, 1),
        (j16_supplier_part_counts, 0),
    ):
        df = q(spark, SF_SMOKE)
        assert_hint_count(df, allowed)
        assert_broadcast_join(df)
        assert_no_cartesian(df)
    for q, allowed in (
        (j13b_order_count_distribution, 0),
        (j21_lone_late_supplier, 1),
    ):
        df = q(spark, SF_SMOKE)
        assert_hint_count(df, allowed)
        assert_no_cartesian(df)


def test_adv2_asof_candidate_join_is_bucketed(spark):
    """The as-of join's candidate stage must be an EQUI-join on
    (customer, time bucket) — candidate rows bounded per (customer, month) —
    never a theta-join against the customer's full order history (which a
    BroadcastNestedLoopJoin / CartesianProduct in the plan would betray).
    The orderdate <= ts inequality may only appear as a post-join filter /
    join residual, with `bkt` among the equi keys."""
    from iot_big_data_engineering_spark.operators.advanced import adv2_asof_join

    df = adv2_asof_join(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p
    # every join carrying the inequality must also carry the bkt equi-key
    assert "bkt" in p, p


def test_adv11_range_join_is_bucketed(spark):
    """Same scale contract for the range join: the events↔orders inequality
    must ride an equi-join on (customer, bucket), never a nested loop."""
    from iot_big_data_engineering_spark.operators.advanced import adv11_range_join

    df = adv11_range_join(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p
    assert "bkt" in p, p


def test_j17_no_forced_broadcast_of_fact_aggregate(spark):
    """j17's per-part average has cardinality |part| — a fact-derived
    aggregate, not a fixed-size dimension. A forced broadcast hint on it
    OOMs at 100 TB, so the query must leave the strategy to the planner:
    no broadcast hint in the analyzed plan, no cartesian, and the
    aggregate still plans partial (map-side) before its shuffle."""
    from iot_big_data_engineering_spark.operators.joins import (
        j17_small_quantity_revenue,
    )

    df = j17_small_quantity_revenue(spark, SF_SMOKE)
    assert_no_cartesian(df)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p
    assert p.count("HashAggregate") >= 2, p  # partial + final on pa


def test_j6_full_predicate_pushdown(spark):
    """TPC-H Q6 is the pushdown litmus: all three predicates must reach
    the parquet scan and the read schema must shrink to the 4 used cols."""
    from iot_big_data_engineering_spark.operators.joins import j6_forecast_revenue

    df = j6_forecast_revenue(spark, SF_SMOKE)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert_pushed_filter(df, col)
    assert_read_schema_only(
        df,
        "lineitem.parquet",
        {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
    )


def test_j20_plan_broadcast_semi_and_partial_agg(spark):
    """Q20 shape: the only shuffle may be the (l_suppkey, l_partkey)
    stock aggregate (partial map-side); the only hint is the 25-row
    nation; the planner still broadcasts the small sides at this SF and
    never goes cartesian."""
    from iot_big_data_engineering_spark.operators.joins import (
        j20_excess_stock_suppliers,
    )

    df = j20_excess_stock_suppliers(spark, SF_SMOKE)
    assert_hint_count(df, 1)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "partial" in p.lower(), p


def test_g3_groupingsets_single_scan_partial_agg(spark):
    """GROUPING SETS must plan as one scan + Expand + partial/final hash
    aggregate — not one job per grouping set."""
    from iot_big_data_engineering_spark.operators.joins import (
        g3_groupingsets_order_stats,
    )

    df = g3_groupingsets_order_stats(spark, SF_SMOKE)
    p = plan_str(df, mode="simple")
    assert "Expand" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert p.count("orders.parquet") <= 1, p


def test_st4_static_dim_broadcasts(spark):
    """The stream-static join must broadcast the dimension side — the
    batch twin of the plan the streaming runner executes per micro-batch
    (stream side never shuffles)."""
    from iot_big_data_engineering_spark.sources.sensor_view import (
        quality_checked,
    )
    from iot_big_data_engineering_spark.sources.tables import load_table as lt
    from iot_big_data_engineering_spark.streaming.pipeline import enrich_stream

    cust = lt(spark, SF_SMOKE, "customer")
    nat = lt(spark, SF_SMOKE, "nation")
    dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.format_string("VH_%05d", F.col("c_custkey")).alias("vid"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    df = enrich_stream(quality_checked(spark, SF_SMOKE), dim, "vehicle_id", "vid")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_s4_partial_agg_and_broadcast_centroids(spark):
    """The centroid rollup must plan partial (map-side) aggregation —
    decimal sums are associative-exact, so this is safe. The label×dim
    centroid table scales with label cardinality, so it carries NO hint
    (j17 lesson); the planner must still choose broadcast for it at this
    SF from size stats."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s4_label_centroids,
    )

    df = s4_label_centroids(spark, SF_SMOKE)
    assert_hint_count(df, 0)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "partial" in p.lower(), p


def test_dp1_single_scan_no_cartesian(spark):
    """The composed cleaning pipeline must fuse scoring into ONE documents
    scan; the only shuffle is the md5 dedup window."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp1_corpus_clean,
    )

    df = dp1_corpus_clean(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert p.count("documents.parquet") <= 1, p


def test_mm6_shard_plan_two_phase_cumsum(spark):
    """The shard planner's running sum must be the two-phase form: both
    consumers read the CACHED size table (one physical scan), the
    per-bucket prefix table broadcasts, and the big window partitions on
    (media_type, bkt) — never media_type alone, which would be a
    |media_type|-task global sort at scale."""
    from iot_big_data_engineering_spark.operators.multimodal import (
        mm6_shard_plan,
    )

    df = mm6_shard_plan(spark, SF_SMOKE)
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    p = plan_str(df, mode="simple")
    # both branches hit the cache (>= 2 cache reads, not == 2: AQE reuse /
    # plan-rendering changes may add benign extra mentions), and no branch
    # bypasses it: every documents.parquet mention must sit inside a cached
    # InMemoryRelation block (the rendering expands the cached lineage once
    # per cache read, so mentions <= cache reads; an uncached extra scan
    # would push the count past that)
    cache_reads = p.count("InMemoryTableScan")
    assert cache_reads >= 2, p
    assert p.count("documents.parquet") <= cache_reads, p
    assert "bkt" in p, p


def test_d8b_df_ordered_join_is_equi_not_allpairs(spark):
    """The similarity join's candidate stage must be an EQUI-join on the
    exploded prefix hash — a CartesianProduct / NestedLoop would mean
    the prefix filter degenerated to all-pairs. The doc_a < doc_b
    inequality may only ride as a join residual next to the equi-key."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d8b_jaccard_join_df_prefix,
    )

    df = d8b_jaccard_join_df_prefix(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p


def test_dp2_no_cartesian_no_hints(spark):
    """The composed near-dup cleaning pipeline: prefix join + CC + gates —
    nothing cartesian, no forced broadcasts anywhere in it."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp2_corpus_clean_neardup,
    )

    df = dp2_corpus_clean_neardup(spark, SF_SMOKE)
    assert_hint_count(df, 0)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p


def test_w5_single_window_shuffle(spark):
    """The RANGE-frame moving aggregate must plan ONE user_id window (no
    extra exchanges beyond the window sort) with the filter pushed to the
    scan."""
    from iot_big_data_engineering_spark.operators.joins import (
        w5_trailing_hour_aggs,
    )

    df = w5_trailing_hour_aggs(spark, SF_SMOKE)
    assert_pushed_filter(df, "user_id")
    p = plan_str(df, mode="simple")
    assert p.count("Window") == 1, p


def test_d9_cell_routing_is_grouped_kernel_not_allpairs(spark):
    """d9's candidate stage must be the per-cell Arrow kernel fed by ONE
    grouping shuffle on the IVF cell id — never a corpus-level join or
    cartesian. This is the whole point of the SemDeDup routing vs d6's
    capped quadratic anchor."""
    from iot_big_data_engineering_spark.operators.similarity import (
        d9_semantic_dedup,
    )

    df = d9_semantic_dedup(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p
    assert "FlatMapGroupsInPandas" in p, p


def test_a18_sketch_cube_single_raw_scan_per_branch(spark):
    """The ROLLUP lattice must be answered from the daily sketch table,
    not by re-scanning raw rows per lattice cell: the plan may contain at
    most 2 events scans total (one feeding the sketch cube, one feeding
    the exact certificate columns — the second disappears in the pure
    production form that drops the certificate)."""
    from iot_big_data_engineering_spark.operators.sketches import (
        a18_sketch_cube,
    )

    df = a18_sketch_cube(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert p.count("events.parquet") <= 2, p


def test_t12_freq_join_no_hint_no_cartesian(spark):
    """t12's token→frequency join-back must carry NO broadcast hint (the
    vocabulary grows with the corpus, Heaps' law — the j17/j16 lesson) and
    the only sanctioned hint is the 1-row corpus-total scalar."""
    from iot_big_data_engineering_spark.operators.textstats import (
        t12_rarity_score,
    )

    df = t12_rarity_score(spark, SF_SMOKE)
    assert_no_cartesian(df)
    assert_hint_count(df, 1)  # the 1-row total only


def test_dp5_uses_bucketed_prefix_sum_not_per_lang_window(spark):
    """dp5's running offset must ride the two-phase prefix sum: window
    partitions keyed on (lang, _bkt), never on lang alone — a per-lang
    window is |langs| single-task sorts at scale."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp5_sequence_packing,
    )

    df = dp5_sequence_packing(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "_bkt" in p, p


def test_dq2_never_materializes_the_join(spark):
    """dq2 predicts the equi-join's size from per-key counts; the plan
    must join only the two count tables (post-aggregate), never the raw
    events×orders rows — no join may appear upstream of an aggregate on
    both legs. Weak but mechanical check: the joined relations' row width
    is the 2-3 column count schema, which shows as HashAggregate feeding
    the join on both sides."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq2_join_size_preflight,
    )

    df = dq2_join_size_preflight(spark, SF_SMOKE)
    assert_no_cartesian(df.limit(1))
    p = plan_str(df, mode="simple")
    # the persisted count tables serve every branch: raw-table mentions
    # may only appear inside cached InMemoryRelation blocks (the rendering
    # expands cached lineage once per cache read — the mm6 pattern), so
    # mentions are bounded by cache reads; an uncached extra raw scan
    # would push a count past that bound
    cache_reads = p.count("InMemoryTableScan")
    assert cache_reads >= 2, p
    assert p.count("events.parquet") <= cache_reads, p
    assert p.count("orders.parquet") <= cache_reads, p


def test_dq4_prefilter_is_semi_join_no_cartesian(spark):
    """The bucket pre-filter must plan as a LEFT SEMI join on the fixed
    bucket domain (the planner broadcasts it unhinted at this size), and
    the priority filter must reach the orders scan."""
    from iot_big_data_engineering_spark.operators.joins import (
        dq4_semijoin_prefilter,
    )

    df = dq4_semijoin_prefilter(spark, SF_SMOKE)
    assert_hint_count(df, 0)
    assert_no_cartesian(df)
    assert_pushed_filter(df, "o_orderpriority")
    p = plan_str(df, mode="simple")
    assert "LeftSemi" in p, p


def test_d10_delta_probes_state_not_self_join(spark):
    """Incremental dedup's candidate stage joins DELTA bands against the
    corpus band state — the plan must stay free of cartesian products and
    of any NestedLoop fallback."""
    from iot_big_data_engineering_spark.operators.dedup import (
        d10_dedup_delta,
    )

    df = d10_dedup_delta(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df, mode="simple")
    assert "NestedLoop" not in p, p


def test_a21_state_window_is_bin_bounded(spark):
    """a21's quantile window runs over the merged HISTOGRAM STATE
    (<= nbins x |types| rows), never over raw rows: the plan's Window
    nodes must sit above the (sensor_type, bin) aggregate."""
    from iot_big_data_engineering_spark.operators.sketches import (
        a21_histogram_quantile_rollup,
    )

    df = a21_histogram_quantile_rollup(spark, SF_SMOKE)
    p = plan_str(df, mode="simple")
    assert "Window" in p, p
    # the raw-row pre-aggregation (partial hash aggregate on sensor_type,
    # bin) must appear BELOW the window in the tree (deeper indentation =
    # later in string for explain output children)
    win_at = p.index("Window")
    assert "HashAggregate" in p[win_at:], p


def test_dp9_certificate_reuses_checkpointed_edges(spark):
    """dp9 consumes the d8 edge list twice (components + the
    edge-respects-split certificate); the plan must read the
    localCheckpoint (ExistingRDD) both times rather than re-deriving the
    prefix-join subtree, and the documents parquet itself must be
    scanned exactly once (the doc_id projection)."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp9_leakage_safe_split,
    )

    df = dp9_leakage_safe_split(spark, SF_SMOKE)
    p = plan_str(df, mode="simple")
    # edges enter as the checkpointed RDD, never a re-derived prefix join
    assert "ExistingRDD" in p, p
    # the split table is served from cache for both consumers (the
    # per-split aggregate and the certificate join) — its parquet
    # lineage appears only inside InMemoryRelation printouts
    assert "InMemoryTableScan" in p, p
    assert "shingle" not in p.lower(), p  # no re-derived edge subtree
    assert "CartesianProduct" not in p, p


def test_w6_join_reuses_aggregate_partitioning(spark):
    """w6's activity join must consume the per-user MIN aggregate on the
    aggregate's own hash partitioning: with broadcast disabled (the
    100 TB regime — firsts is |users|-sized), the plan carries exactly
    three exchanges (events→agg, events→join, final cell agg) and the
    aggregate side enters the SortMergeJoin with no fourth exchange."""
    from iot_big_data_engineering_spark.operators.joins import (
        w6_cohort_retention,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        p = plan_str(w6_cohort_retention(spark, SF_SMOKE), mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert p.count("SortMergeJoin") == 1, p
    assert p.count("Exchange") == 3, p


def test_adv13_salted_join_spreads_on_salt(spark):
    """The salted replicate join must actually join on (user_id, salt) —
    with broadcast disabled, one SortMergeJoin whose keys include the
    salt column, so each hot user spreads over _N_SALT shuffle
    partitions. A dropped salt key would re-concentrate the hot keys
    (and, if the replication survived, duplicate rows S× — caught by
    the oracle)."""
    import re

    from iot_big_data_engineering_spark.operators.advanced import (
        adv13_salted_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        p = plan_str(adv13_salted_join(spark, SF_SMOKE), mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert p.count("SortMergeJoin") == 1, p
    m = re.search(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", p)
    assert m is not None, p
    left, right = m.group(1), m.group(2)
    assert "salt" in left and "salt" in right, (left, right)
    assert "user_id" in left and "user_id" in right, (left, right)


def test_w7_funnel_matches_bruteforce_random_events(spark):
    """The staged per-step MIN-join funnel must equal a per-user Python
    brute force (scan each user's sorted history, advance through the
    step sequence inside the window) on seeded random event frames —
    including users who click before ever viewing, convert exactly at
    the window edge, or purchase before clicking."""
    import datetime as dt
    import random

    from iot_big_data_engineering_spark.operators.joins import (
        _W7_WINDOW_DAYS,
        w7_event_funnel,
    )
    from iot_big_data_engineering_spark.operators import joins as J
    from iot_big_data_engineering_spark.sources import tables as TBL

    base = dt.datetime(2024, 1, 1)
    for seed in (3, 17):
        rng = random.Random(seed)
        rows = []
        for eid in range(400):
            rows.append(
                (
                    eid,
                    rng.randrange(40),  # user
                    rng.choice(["view", "click", "purchase", "error"]),
                    base + dt.timedelta(minutes=rng.randrange(0, 60 * 24 * 20)),
                )
            )
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )

        # brute force
        window = dt.timedelta(days=_W7_WINDOW_DAYS)
        per_user: dict = {}
        for _, uid, et, ts in rows:
            per_user.setdefault(uid, []).append((ts, et))
        n1 = n2 = n3 = 0
        for hist in per_user.values():
            hist.sort()
            t1 = min((ts for ts, et in hist if et == "view"), default=None)
            if t1 is None:
                continue
            n1 += 1
            t2 = min(
                (ts for ts, et in hist if et == "click" and t1 < ts <= t1 + window),
                default=None,
            )
            if t2 is None:
                continue
            n2 += 1
            if any(
                et == "purchase" and t2 < ts <= t1 + window for ts, et in hist
            ):
                n3 += 1

        # run the registered operator against the synthetic frame by
        # stubbing the events load
        orig = TBL.load_table
        try:
            TBL.load_table = lambda s, d, t, _df=df, _o=orig: (
                _df if t == "events" else _o(s, d, t)
            )
            J.load_table = TBL.load_table
            got = {
                r.step: r.n_users
                for r in w7_event_funnel(spark, "unused").collect()
            }
        finally:
            TBL.load_table = orig
            J.load_table = orig
        assert got == {"view": n1, "click": n2, "purchase": n3}, (
            seed,
            got,
            (n1, n2, n3),
        )


def test_w7_empty_step_yields_null_ratio_matching_oracle(spark):
    """A funnel with an empty step must not crash under ANSI division
    and must match the DuckDB oracle cell-for-cell: 0/0 (a ratio out of
    an empty previous step) is NULL on both engines, 0/n is 0.0."""
    import datetime as dt

    import duckdb

    from iot_big_data_engineering_spark.operators import joins as J
    from iot_big_data_engineering_spark.operators.joins import w7_event_funnel
    from iot_big_data_engineering_spark.registry import all_queries
    from iot_big_data_engineering_spark.sources import tables as TBL

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, i % 3, "view", base + dt.timedelta(hours=i)) for i in range(6)
    ]  # views only: click and purchase steps are empty
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    orig = TBL.load_table
    try:
        TBL.load_table = lambda s, d, t, _df=df, _o=orig: (
            _df if t == "events" else _o(s, d, t)
        )
        J.load_table = TBL.load_table
        got = [tuple(r) for r in w7_event_funnel(spark, "unused").collect()]
    finally:
        TBL.load_table = orig
        J.load_table = orig

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({eid}, {uid}, '{et}', TIMESTAMP '{ts}')"
            for eid, uid, et, ts in rows
        )
        + ") t(event_id, user_id, event_type, ts)"
    )
    oracle = all_queries()["w7_event_funnel"].oracle
    want = [tuple(r) for r in con.execute(oracle).fetchall()]
    assert got == want, (got, want)
    by_step = {r[1]: r for r in got}
    assert by_step["view"][3] == 1.0
    assert by_step["click"][3] == 0.0  # 0 / 3 views
    assert by_step["purchase"][3] is None  # 0 / 0 clicks — NULL, not crash

    # fully-empty events: all three steps at 0, every ratio NULL — and
    # the oracle agrees cell-for-cell
    empty = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp"
    )
    try:
        TBL.load_table = lambda s, d, t, _df=empty, _o=orig: (
            _df if t == "events" else _o(s, d, t)
        )
        J.load_table = TBL.load_table
        got0 = [tuple(r) for r in w7_event_funnel(spark, "unused").collect()]
    finally:
        TBL.load_table = orig
        J.load_table = orig
    con0 = duckdb.connect()
    con0.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT, "
        "event_type VARCHAR, ts TIMESTAMP)"
    )
    assert got0 == [tuple(r) for r in con0.execute(oracle).fetchall()]
    assert all(r[2] == 0 and r[3] is None and r[4] is None for r in got0)


# ---------------------------------------------------------------------------
# round-8 operator plan hygiene
# ---------------------------------------------------------------------------
def test_mm8_plan_no_cartesian_banded_equijoin(spark):
    """The candidate join must be an equi-join on (band index, band
    value) — the LSH gate that keeps the pass linear — never a
    cartesian pair enumeration."""
    from iot_big_data_engineering_spark.operators.multimodal import (
        mm8_phash_neardup,
    )

    df = mm8_phash_neardup(spark, SF_SMOKE)
    assert_no_cartesian(df)


def test_a22_plan_broadcast_sketch_probe(spark):
    """The top-k probe joins against the bounded sketch relation via
    broadcast (no full shuffle of the probe side against D*W rows)."""
    from iot_big_data_engineering_spark.operators.sketches import (
        a22_cms_heavy_hitters,
    )

    df = a22_cms_heavy_hitters(spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert "CartesianProduct" not in plan_str(df)


def test_t14_plan_single_pruned_scan(spark):
    """One column-pruned documents scan (text + lang only), partial
    aggregation on the (lang, term) count, no join anywhere."""
    from iot_big_data_engineering_spark.operators.textstats import (
        t14_zipf_profile,
    )

    df = t14_zipf_profile(spark, SF_SMOKE)
    p = plan_str(df)
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "Join" not in p, p
    assert "struct<text:string,lang:string>" in p, p


def test_s10_codes_are_narrow(spark):
    """The PQ codes relation ships (vec_id, codes[8] int32) — the 32x
    scan compression that makes ADC the at-scale search path. Assert the
    encode output schema is exactly that (a refactor that drags the raw
    vector column through the scoring pass would break the entire
    premise)."""
    from iot_big_data_engineering_spark.operators.similarity import (
        _PQ_M,
        load_embeddings,
        pq_encode,
        pq_train_codebooks,
    )

    e = load_embeddings(spark, SF_SMOKE, "vec_id", "label", repartition=True)
    books = pq_train_codebooks(e)
    codes = pq_encode(e, books)
    assert [f.name for f in codes.schema.fields] == ["vec_id", "codes"]
    first = codes.first()
    assert len(first.codes) == _PQ_M


def test_dp12_plan_single_scan_no_join(spark):
    """The quality-weighted sampler is one pruned documents scan (text +
    doc_id) with the keep decision fused map-side — no join, no window;
    the only exchange feeds the <=10-group certificate aggregate."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp12_quality_weighted_sample,
    )

    df = dp12_quality_weighted_sample(spark, SF_SMOKE)
    p = plan_str(df)
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_dq5_plan_pruned_legs_no_expand(spark):
    """Six single-column pruned scan legs, and NO Expand node — the
    profile deliberately avoids the multi-countDistinct plan whose
    Expand multiplies every input row by the number of profiled
    columns before the shuffle."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq5_table_profile,
    )

    df = dq5_table_profile(spark, SF_SMOKE)
    p = plan_str(df)
    assert "Expand" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 6, p
    # every leg's parquet read carries exactly one column
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert len(schemas) == 6 and all(s.count(":") == 1 for s in schemas), p


def test_adv14_plan_single_join_no_window(spark):
    """The SCD2 merge is ONE join (the full-outer key reconciliation)
    plus a map-side explode — no window function and no second join."""
    from iot_big_data_engineering_spark.operators.advanced import (
        adv14_scd2_snapshot_merge,
    )

    df = adv14_scd2_snapshot_merge(spark, SF_SMOKE)
    p = plan_str(df, mode="simple")  # formatted lists each node twice
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") == 1, p
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p


def test_dp13_plan_one_exchange_no_join(spark):
    """One pruned scan (doc_id only), one hash exchange on shard feeding
    the in-shard row_number sort, no join — physically the shard
    writer's repartition().sortWithinPartitions() path."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp13_reproducible_shuffle,
    )

    df = dp13_reproducible_shuffle(spark, SF_SMOKE)
    p = plan_str(df)
    assert "Join" not in p, p
    assert "struct<doc_id:bigint>" in p, p  # column-pruned scan
    simple = plan_str(df, mode="simple")
    # shard exchange + the final small-aggregate exchange; nothing else
    assert simple.count("Exchange") <= 2, simple


def test_dp14_plan_single_window_shuffle_broadcast_targets(spark):
    """One window shuffle keyed on source for the prefix cumsum; the
    (source, target) relation joins in via broadcast; no cartesian
    beyond the documented 1-row scalar budget join."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp14_temperature_mix,
    )

    df = dp14_temperature_mix(spark, SF_SMOKE)
    p = plan_str(df)
    assert "CartesianProduct" not in p, p
    assert p.count("Window") >= 1, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_a23_plan_partial_aggs_and_single_orders_scan(spark):
    """Both maintenance branches must plan partial (map-side)
    aggregation before their shuffles, and the persisted 2-column
    dimension must be served from the cache (InMemoryTableScan), not
    re-scanned from parquet per branch."""
    from iot_big_data_engineering_spark.operators.sketches import (
        a23_incremental_join_view,
    )

    df = a23_incremental_join_view(spark, SF_SMOKE)
    p = plan_str(df, mode="simple")
    assert p.count("HashAggregate") >= 4, p  # partial+final per branch
    assert "CartesianProduct" not in p, p
    assert p.count("InMemoryTableScan") >= 2, p  # cached orders, both sides


def test_dq6_plan_pruned_legs_no_expand(spark):
    """Five column-pruned legs (each reads the profiled column plus the
    o_orderkey the snapshot hash derives from), and NO Expand node —
    the two-level (value, side) aggregate replaces the
    countDistinct(when(...)) pair whose Expand would triple every input
    row before the shuffle (r9 review of the executed plan)."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq6_snapshot_drift,
    )

    df = dq6_snapshot_drift(spark, SF_SMOKE)
    p = plan_str(df)
    assert "Expand" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 5, p
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    # every leg reads at most 2 columns: the profiled column + the key
    # (the o_orderkey leg reads just the key itself)
    assert len(schemas) == 5 and all(s.count(":") <= 2 for s in schemas), p


def test_dp15_plan_vocab_broadcast_and_topk(spark):
    """dp15's class-mapping joins must BROADCAST the bounded vocab (two
    ResolvedHint/BroadcastHashJoins), the report must plan as
    TakeOrderedAndProject (never a global sort), and the vocab must be
    a TakeOrderedAndProject too — per-partition top-V, no full sort of
    the token counts."""
    from iot_big_data_engineering_spark.operators.textstats import (
        dp15_bigram_lm_screen,
    )

    df = dp15_bigram_lm_screen(spark, SF_SMOKE)
    p = plan_str(df)
    assert "TakeOrderedAndProject" in p, p
    # the formatted detail section carries the limits as Arguments
    assert "Arguments: 20, [rare_ppm" in p, p
    assert "Arguments: 2000, [c" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_t16_plan_single_pruned_scan(spark):
    """t16 is map-only counters into one hash aggregate: a single scan
    reading exactly [text, lang], one exchange, no join."""
    from iot_big_data_engineering_spark.operators.textstats import (
        t16_script_mix,
    )

    df = t16_script_mix(spark, SF_SMOKE)
    p = plan_str(df)
    assert p.count("Location: InMemoryFileIndex") == 1, p
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert len(schemas) == 1 and schemas[0].count(":") == 2, p
    assert "Join" not in p, p


def test_j23_hand_baskets_support_and_lift(spark):
    from iot_big_data_engineering_spark.operators.joins import frequent_pairs

    rows = [
        (1, 101), (1, 102), (1, 103),
        (2, 101), (2, 102),
        (3, 101), (3, 102),
        (4, 101), (4, 103),
        (4, 101),  # duplicate line in the same order must not double-count
    ]
    l = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    )
    got = {
        (r.p1, r.p2): r
        for r in frequent_pairs(l, item_support=2, pair_support=2).collect()
    }
    # items: 101 in 4 orders, 102 in 3, 103 in 2 — all frequent at floor 2
    # pairs: (101,102)×3, (101,103)×2, (102,103)×1 (below floor)
    assert set(got) == {(101, 102), (101, 103)}
    r = got[(101, 102)]
    assert (r.pair_n, r.c1, r.c2) == (3, 4, 3)
    assert r.lift == 1.0  # 3·4/(4·3)
    r2 = got[(101, 103)]
    assert (r2.pair_n, r2.c1, r2.c2) == (2, 4, 2)
    assert r2.lift == 1.0  # 2·4/(4·2)


def test_j23_item_floor_prunes_before_pairs(spark):
    from iot_big_data_engineering_spark.operators.joins import frequent_pairs

    rows = [(1, 101), (1, 102), (1, 103), (2, 101), (2, 102), (3, 101),
            (3, 102)]
    l = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = frequent_pairs(l, item_support=3, pair_support=2).collect()
    # 103 appears in 1 order -> pruned; only (101,102) survives
    assert [(r.p1, r.p2, r.pair_n) for r in got] == [(101, 102, 3)]


def test_w8_hand_sequences(spark):
    import datetime as dt

    from iot_big_data_engineering_spark.operators.joins import (
        markov_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, s, typ):
        return (eid, uid, t0 + dt.timedelta(seconds=s), typ)

    e = spark.createDataFrame(
        [
            ev(1, 1, 0, "view"), ev(2, 1, 10, "click"),
            ev(3, 1, 20, "purchase"),
            ev(4, 2, 0, "view"), ev(5, 2, 10, "click"),
            ev(6, 2, 20, "click"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {
        (r.from_type, r.to_type): r for r in markov_transitions(e).collect()
    }
    assert set(got) == {
        ("view", "click"), ("click", "purchase"), ("click", "click")
    }
    assert got[("view", "click")].transitions == 2
    assert got[("view", "click")].prob == 1.0
    assert got[("click", "purchase")].prob == 0.5
    assert got[("click", "click")].prob == 0.5
    assert got[("click", "click")].from_total == 2


def test_w8_tie_breaks_on_event_id(spark):
    """Two events at the SAME timestamp must order by event_id — the
    total order the oracle states."""
    import datetime as dt

    from iot_big_data_engineering_spark.operators.joins import (
        markov_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [(2, 1, t0, "b"), (1, 1, t0, "a"), (3, 1, t0, "c")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {(r.from_type, r.to_type) for r in markov_transitions(e).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_t17_t18_j23_w8_plan_shapes(spark):
    from iot_big_data_engineering_spark.operators.joins import (
        j23_frequent_pairs,
        w8_markov_transitions,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        t17_collocations_pmi,
        t18_bm25_topk,
    )

    for fn in (t17_collocations_pmi, t18_bm25_topk):
        df = fn(spark, SF_SMOKE)
        assert_no_cartesian(df)
        p = plan_str(df)
        # top-N must stay distributed — no global sort-then-limit
        assert "TakeOrderedAndProject" in p, p

    j = j23_frequent_pairs(spark, SF_SMOKE)
    assert_no_cartesian(j)
    pj = plan_str(j)
    assert "TakeOrderedAndProject" in pj, pj
    # the scan feeding the Apriori prune reads only the two join columns
    assert "struct<l_orderkey:bigint,l_partkey:bigint>" in pj, pj

    w = w8_markov_transitions(spark, SF_SMOKE)
    assert_no_cartesian(w)
    assert_broadcast_join(w)  # |event_types|-row totals relation


def test_m18_plan_two_scans_single_pass(spark):
    """m18's nine metrics must ride ONE trailing-hour window scan plus
    the one anchor aggregate — exactly two scans of the events table,
    never a scan+anchor pair per union branch (the round-10 review
    found the union form carried six)."""
    from iot_big_data_engineering_spark.operators.monitoring import (
        m18_metrics_export,
    )

    p = plan_str(m18_metrics_export(spark, SF_SMOKE))
    assert p.count("Location: InMemoryFileIndex") == 2, p


def test_dq8_plan_single_scan_no_expand(spark):
    """dq8's single countDistinct must plan as the two-level aggregate
    (no Expand — dq6's discipline), over ONE pruned scan of the two
    needed columns; the vectors reduce to scalars before the exchange."""
    from iot_big_data_engineering_spark.operators.advanced import (
        dq8_embedding_audit,
    )

    p = plan_str(dq8_embedding_audit(spark, SF_SMOKE))
    assert "Expand" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "struct<embedding:array<float>,label:int>" in p, p


def test_t17b_j23b_plan_shapes(spark):
    """The log-space twins must keep their parents' plan discipline:
    distributed top-k on the score (TakeOrderedAndProject), the rank
    window over the collected ≤20 rows only — never a global sort of
    the full pair table — and no cartesian."""
    from iot_big_data_engineering_spark.operators.joins import (
        j23b_frequent_pairs_log,
    )
    from iot_big_data_engineering_spark.operators.textstats import (
        t17b_collocations_pmi_log,
    )

    import re

    for fn in (t17b_collocations_pmi_log, j23b_frequent_pairs_log):
        df = fn(spark, SF_SMOKE)
        assert_no_cartesian(df)
        p = plan_str(df)
        assert "TakeOrderedAndProject" in p, p
        # exactly one Window node (the rank assignment), sitting
        # DIRECTLY on the TakeOrderedAndProject — so the single-
        # partition sort under it sees ≤ topn rows, never the full
        # pair table
        assert p.count("+- Window") == 1, p
        assert re.search(
            r"\+- Window \(\d+\)\n\s*\+- TakeOrderedAndProject", p
        ), p
    # j23b keeps j23's two-column pruned scan
    pj = plan_str(j23b_frequent_pairs_log(spark, SF_SMOKE))
    assert "struct<l_orderkey:bigint,l_partkey:bigint>" in pj, pj


def test_adv15_pagerank_matches_python_replay_on_star(spark):
    """Fixed-point PageRank over a hand star graph must equal a pure-
    Python replay of the exact integer recursion, bit for bit."""
    from iot_big_data_engineering_spark.operators.advanced import (
        _ADV15_BASE,
        _ADV15_S,
        pagerank_fixed_point,
    )

    # star: center 0 — leaves 1, 2, 3 (both directions)
    pairs = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    got = {r.node: r.r for r in pagerank_fixed_point(edges, iters=3).collect()}

    adj = {0: [1, 2, 3], 1: [0], 2: [0], 3: [0]}
    deg = {n: len(v) for n, v in adj.items()}
    r = {n: _ADV15_S for n in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            s = sum(r[u] // deg[u] for u in adj if v in adj[u])
            nxt[v] = _ADV15_BASE + (85 * s) // 100
        r = nxt
    assert got == r
    assert r[0] > r[1] == r[2] == r[3]  # the hub dominates


def test_adv15_symmetric_pair_is_stationary(spark):
    """A single undirected edge (deg 1 both sides) is a fixed point of
    the damped recursion at S: BASE + 85·S DIV 100 = S exactly."""
    from iot_big_data_engineering_spark.operators.advanced import (
        _ADV15_S,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 0)], "src long, dst long"
    )
    got = {r.node: r.r for r in pagerank_fixed_point(edges, iters=3).collect()}
    assert got == {0: _ADV15_S, 1: _ADV15_S}


def test_adv15_checkpointed_ranks_identical(spark):
    """checkpoint_every (production-depth lineage truncation, r9 VERDICT
    Next #6) must change the plan only, never the int64 ranks: a 7-iter
    run checkpointed every 2 iterations equals the plain run bit for
    bit on a seeded random graph."""
    import random

    from iot_big_data_engineering_spark.operators.advanced import (
        pagerank_fixed_point,
    )

    rng = random.Random(41)
    pairs = {(rng.randrange(30), rng.randrange(30)) for _ in range(80)}
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    plain = {
        r.node: r.r for r in pagerank_fixed_point(edges, iters=7).collect()
    }
    ckpt = {
        r.node: r.r
        for r in pagerank_fixed_point(
            edges, iters=7, checkpoint_every=2
        ).collect()
    }
    assert plain == ckpt
    assert len(plain) == len({a for a, _ in pairs} | {b for _, b in pairs})


def test_adv15_checkpoint_every_zero_rejected(spark):
    """Review finding #4's pin: checkpoint_every=0 raises a named
    ValueError up front, not ZeroDivisionError mid-iteration."""
    import pytest

    from iot_big_data_engineering_spark.operators.advanced import (
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank_fixed_point(edges, iters=2, checkpoint_every=0)


def test_adv15_overflow_guard():
    """The int64 ceiling is enforced, not argued (r9 ADVICE #1): exactly
    _PAGERANK_MAX_NODES nodes pass, one more raises by name, and sf1's
    ~160k-node graph is loudly rejected instead of silently wrapping."""
    import pytest

    from iot_big_data_engineering_spark.operators.advanced import (
        _PAGERANK_MAX_NODES,
        _check_pagerank_overflow,
    )

    _check_pagerank_overflow(_PAGERANK_MAX_NODES)  # boundary: fits
    with pytest.raises(RuntimeError, match="overflow int64"):
        _check_pagerank_overflow(_PAGERANK_MAX_NODES + 1)
    with pytest.raises(RuntimeError, match="max safe nodes"):
        _check_pagerank_overflow(160_000)  # the sf1 scenario
    # a smaller scale raises the ceiling — the documented production form
    _check_pagerank_overflow(160_000, scale=10**9)


def test_adv15_registered_plan_no_cartesian(spark):
    from iot_big_data_engineering_spark.operators.advanced import (
        adv15_pagerank,
    )

    df = adv15_pagerank(spark, SF_SMOKE)
    assert_no_cartesian(df)
    p = plan_str(df)
    assert "TakeOrderedAndProject" in p, p


def test_adv15b_scale9_matches_python_replay_on_star(spark):
    """adv15b's production rank scale (10^9 — VERDICT r10 Next #7) must
    run the IDENTICAL integer recursion as adv15, just at the lower
    scale: bit-equal to a pure-Python replay on the hand star graph,
    and the sf1-sized node count that adv15's 10^12 scale rejects is
    admitted at 10^9 (capacity asserted in the overflow test above)."""
    from iot_big_data_engineering_spark.operators.advanced import (
        _ADV15B_BASE,
        _ADV15B_S,
        pagerank_fixed_point,
    )

    pairs = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    got = {
        r.node: r.r
        for r in pagerank_fixed_point(edges, iters=3, scale=_ADV15B_S).collect()
    }

    adj = {0: [1, 2, 3], 1: [0], 2: [0], 3: [0]}
    deg = {n: len(v) for n, v in adj.items()}
    r = {n: _ADV15B_S for n in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            s = sum(r[u] // deg[u] for u in adj if v in adj[u])
            nxt[v] = _ADV15B_BASE + (85 * s) // 100
        r = nxt
    assert got == r
    assert r[0] > r[1] == r[2] == r[3]


def test_s14_plan_shape(spark):
    """s14's scale contract, pinned: every ranking runs as a distributed
    TakeOrderedAndProject (two channel top-50s + the fused top-20 —
    never a global sort of the corpus), the 1-row query-vector cross
    join broadcasts (no CartesianProduct), and the scalar/df/dl joins of
    the BM25 channel are broadcast hash joins. The fusion join's inputs
    are the ≤50-row channel lists by construction, so whatever strategy
    Catalyst picks for the FullOuter is bounded."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s14_hybrid_rrf,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_cartesian,
        plan_str,
    )

    df = s14_hybrid_rrf(spark, SF_SMOKE)
    p = plan_str(df)
    assert p.count("TakeOrderedAndProject") >= 3, p
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row qv cross join


def test_s16_plan_shape(spark):
    """s16's scale contract, pinned: same distributed-ranking shape as
    s14 (channel top-50s + fused top-20 as TakeOrderedAndProject, no
    CartesianProduct, broadcast hash joins on the BM25 side) PLUS the
    index-path structure — both phase scans filter on the `cell` column
    (partition pruning at scale) before any cosine is computed."""
    from iot_big_data_engineering_spark.operators.similarity import (
        s16_hybrid_rrf_ivf,
    )
    from iot_big_data_engineering_spark.plans.checks import (
        assert_broadcast_join,
        assert_no_cartesian,
        plan_str,
    )

    df = s16_hybrid_rrf_ivf(spark, SF_SMOKE)
    p = plan_str(df)
    assert p.count("TakeOrderedAndProject") >= 3, p
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row qv cross join
    assert "cell IN" in p or "cell#" in p, p  # the pruned access path
