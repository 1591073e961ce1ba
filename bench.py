#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Each query is executed to completion (count() forces the full plan; the
driver-facing result sets are small aggregates, so count ≈ full execution
cost without collect-to-driver noise).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "a1_windowed_analytics",
    "a2_daily_analytics",
    "a4_vehicle_analytics",
    "a5_quality_histogram",
    "a9_vehicle_topk",
    "o1_filtered_scan_paginated",
    "m15_alerts",
    "j1_pricing_summary",
    "j3_shipping_priority",
    "j6_forecast_revenue",
    "j10_order_rollup",
    "j13_events_enriched",
    "j18_large_orders",
    "w1_top_orders_per_customer",
    "t5_top_terms",
    "d2_exact_dedup_keep_first",
    "d3_jaccard_pairs",
    "d4_minhash_lsh_dedup",
    "s1_knn_bruteforce",
    "s2_knn_ivf",
    "t1_token_stats",
    "t2_doc_quality",
    "t4_fingerprints",
    "adv1_sessionize",
    "adv2_asof_join",
    "adv6_percentiles",
    "mm2_media_type_stats",
    # deepest star fan-in, profit rollup, left-join histogram, dedup
    # clustering, tf-idf, one-pass profile
    "j8_market_share",
    "j9_profit_by_nation",
    "j13b_order_count_distribution",
    "d7_dedup_clusters",
    "t6_tfidf_top_terms",
    "t7_documents_profile",
    # bucketed range join, payload dedup, prefix-filter exact-Jaccard
    # join, grouping sets
    "adv11_range_join",
    "mm5_payload_dedup",
    # d8_jaccard_join_prefix is not registered (redundant twin); d8b
    # below carries the identical plan shape
    "g3_groupingsets_order_stats",
    "j11b_supplier_value_share",
    "j12b_priority_by_returnflag",
    "dp1_corpus_clean",
    "s4_label_centroids",
    "mm6_shard_plan",
    # full-corpus dedup clustering, LSH ANN + SimHash certificates, BPE
    # token stats, decile windows
    "d7_dedup_clusters_full",
    "s3_knn_lsh",
    "d5_simhash_neardup",
    "t8_bpe_token_stats",
    "w4_value_deciles",
    "d8b_jaccard_join_df_prefix",
    "dp2_corpus_clean_neardup",
    "w5_trailing_hour_aggs",
    "t9_pii_scan",
    "mm7_stratified_sample",
    "t10_repetition_profile",
    "dc1_benchmark_contamination",
    "t11_inverted_index",
    "dp3_training_mix",
    "dp4_cleaning_audit",
    "m16_burn_rate",
    # mergeable-state rollups, skew audit, SemDeDup cell routing
    "a17_incremental_rollup",
    "a18_sketch_cube",
    "dq1_key_skew_audit",
    "dq2_join_size_preflight",
    "d9_semantic_dedup",
    "t12_rarity_score",
    "m17_alert_incidents",
    "dp5_sequence_packing",
    "s5_scalar_quantization",
    "a19_resample_ffill",
    "u4_snapshot_diff",
    "dq3_referential_audit",
    "a20_seasonality_profile",
    "s6_knn_ivf_sq8",
    "adv12_robust_outliers",
    "t13_vocab_growth",
    # multi-period backfill through the state table, histogram-quantile
    # merge, incremental delta dedup, semi-join pre-filter
    "a17b_rollup_backfill",
    "a21_histogram_quantile_rollup",
    "d10_dedup_delta",
    "dq4_semijoin_prefilter",
    "dp8_document_chunking",
    # state compaction proof, leakage-safe split
    "a17c_rollup_compaction",
    "dp9_leakage_safe_split",
    # filtered ANN, incremental IVF delta-add, staged event funnel
    "s7_knn_filtered",
    "s8_knn_ivf_delta_add",
    "w7_event_funnel",
    "adv13_salted_join",
    # cross-document boilerplate removal, Zipf profile, count-min heavy
    # hitters, product-quantization ANN
    "dp10_boilerplate_removal",
    "t14_zipf_profile",
    "a22_cms_heavy_hitters",
    "s10_knn_pq",
    "mm8_phash_neardup",
    "dp11_split_decontamination",
    "dp12_quality_weighted_sample",
    "dq5_table_profile",
    "adv14_scd2_snapshot_merge",
    "dp13_reproducible_shuffle",
    "dp14_temperature_mix",
    "a23_incremental_join_view",
    "d11_neardup_keep_best",
    "t15_vocab_coverage",
    # bigram-LM quality screen, script-mix profile, cross-snapshot drift
    # audit, exact MIPS baseline
    "dp15_bigram_lm_screen",
    "t16_script_mix",
    "dq6_snapshot_drift",
    "s12_mips_topk",
    # PMI collocations, BM25 retrieval, frequent pairs, Markov
    # transitions, dataset card, DSIR importance weights, duplicated-span
    # audit, fixed-point PageRank
    "t17_collocations_pmi",
    "t18_bm25_topk",
    "j23_frequent_pairs",
    "w8_markov_transitions",
    "dp16_dataset_card",
    "dp17_dsir_importance",
    "d12_duplicate_span_ratio",
    "adv15_pagerank",
    "dq7_expectation_audit",
    # the log-space scoring twins (overflow-free production forms of
    # t17/j23) and the range-search serving primitive
    "t17b_collocations_pmi_log",
    "j23b_frequent_pairs_log",
    "s13_range_search",
    # the embedding-column audit and the Prometheus-surface metrics
    # export
    "dq8_embedding_audit",
    "m18_metrics_export",
    # the production-scale PageRank twin and the IVF cell-pruned range
    # search (exact bound, s13's serving path)
    "adv15b_pagerank_scale9",
    "s13b_range_search_ivf",
    # hybrid BM25+cosine RRF fusion (st15 is excluded with the rest of
    # the st* flows: its wall is micro-batch commit latency, not plan
    # cost)
    "s14_hybrid_rrf",
    # the exact-bound IVF twin of s14 and the MMR diversified rerank over
    # the bounded candidate list
    "s16_hybrid_rrf_ivf",
    "s15_mmr_rerank",
    # one distributed BPE merge step (vocab-scale pair aggregation)
    "t19_bpe_merge_step",
    # the map-only PII rewrite and the cross-source duplicate matrix
    "dp18_pii_redaction",
    "u5_source_overlap_matrix",
    # the per-type PSI drift audit and the A-ES weighted reservoir sample
    "dq9_psi_drift",
    "dp19_weighted_reservoir",
    # s9 (index persist/reload) is registered + oracled but, like the
    # st* flows, excluded here: its wall is filesystem-commit latency
    # (partitioned index write + reload), not plan cost. s11 (tombstone
    # deletes) is excluded for the same reason: its wall is the physical
    # compaction (localCheckpoint materialization) plus two whole-index
    # content fingerprints — certificate cost, flat across 100× of
    # corpus (SCALE.md sweep), not plan cost
]


def _steal_canary() -> float:
    """Fixed-work CPU timer (3× 2000² float64 matmul, deterministic
    input): wall seconds for identical work, so co-tenant CPU steal —
    INVISIBLE in loadavg, which only counts this host's runnable
    threads — shows up as proportional inflation against the quiet
    reference. Three runs in 'idle' (loadavg < 0.3) windows once
    measured matched-query totals 18-33% apart, and only solo
    re-measurement distinguished steal from regression. Recorded at
    start AND end of every bench run so the detail record carries
    machine-state evidence on both edges."""
    import numpy as np

    a = np.full((2000, 2000), 0.5)
    a @ a  # untimed BLAS/thread-pool warmup, so the process's FIRST
    # canary draw is comparable to the end-of-run draw
    t0 = time.perf_counter()
    for _ in range(3):
        a @ a
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from iot_big_data_engineering_spark.registry import queries
    from iot_big_data_engineering_spark.session import get_spark

    try:
        load_at_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_at_start = None
    canary_at_start = _steal_canary()
    spark = get_spark(app_name="bench")
    qs = queries()

    # warm the JVM + parquet footers with one cheap action, and the Arrow
    # Python-worker pool with one trivial kernel (workers are reused across
    # jobs, so this moves one-time process spin-up out of the first
    # kernel-based query's measurement — same reason the JVM gets a warmup)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # best-of-N per query: single-shot numbers on a shared box carry
    # multi-second scheduler/GC/CPU-steal noise (observed 34 s vs 49 s
    # totals, and 2-4x per-query swings between back-to-back runs, for
    # identical code); the min over runs measures the plan, not the
    # noise. Two runs always; if they disagree by >1.5x AND the spread is
    # over 0.3 s (absolute floor: sub-second queries jitter harmlessly),
    # take a third — bounded extra wall time spent only where the first
    # two samples were contaminated. clearCache() before every timed run
    # so a query's persist() from run 1 cannot serve run 2 — each run
    # re-executes the full pipeline; only JVM/codegen warmth carries over.
    times: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qs[name]
        samples: list[float] = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        # third sample when the first two disagree (>1.5x AND >0.3 s
        # spread) OR when the best sample is already mid-range heavy
        # (>3 s): r6 caught a contaminated d8 window where BOTH samples
        # were inflated (4.41 s vs 1.45 s solo) yet agreed closely
        # enough to skip the retry — a best-of-3 floor for heavy-looking
        # queries bounds that failure mode at a few seconds of extra
        # bench wall
        if (
            max(samples) > 1.5 * min(samples)
            and max(samples) - min(samples) > 0.3
        ) or min(samples) > 3.0:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        # a best sample still above 4.5 s is either a genuinely heavy
        # query (nothing here measures above ~3 s quiet) or a sustained
        # steal episode — spend up to two more samples before recording a
        # number that would read as an envelope breach (observed: d4
        # recorded 23.5 s across three contaminated samples, measures
        # ~3 s quiet)
        retries = 0
        while min(samples) > 4.5 and retries < 2:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
            retries += 1
        times[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]

    total = round(sum(times.values()), 3)
    # stdout carries ONLY the contract fields plus the 10 slowest queries,
    # compact-separated: the driver keeps a ~2 KB tail of stdout and parses
    # the JSON line from it — the full 74-query map (~2.8 KB) overflowed
    # that capture in r3 AND r4 and both BENCH files landed with
    # parsed:null. The complete per-query map goes to BENCH_DETAIL.json
    # next to this script instead.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(times),
        "sf": sf,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    detail = dict(out)
    detail["queries"] = times  # full map — detail file only
    # EVERY timed sample per query, not just the min: a contaminated
    # minimum (dp2 once read 2.90 s when three idle runs measured
    # 1.65-1.97 s) is self-evident when the full spread is recorded
    detail["samples"] = all_samples
    # machine context: sustained background load inflates wall times ~1.5x
    # (observed 45 s vs 67 s totals for identical code) — record it so
    # cross-run comparisons are interpretable. The START sample is the
    # meaningful one (by the end, the 1-min average mostly measures the
    # bench's own 32 threads).
    if load_at_start is not None:
        detail["loadavg_at_start"] = load_at_start
    try:
        detail["loadavg_at_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    detail["canary_s_at_start"] = canary_at_start
    detail["canary_s_at_end"] = _steal_canary()
    here = os.path.dirname(os.path.abspath(__file__))
    # BENCH_DETAIL.json is a gitignored scratch file: the latest run's
    # full record, overwritten by every run
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
