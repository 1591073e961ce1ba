"""Partition-invariance audit (round 12): every registered query must
produce IDENTICAL values regardless of physical partitioning.

Why this matters at 100 TB: the driver's gate, a real cluster, and
local[32] all run different `spark.sql.shuffle.partitions` and input
split sizes, so any surface whose values depend on partition count or
intra-partition row order (an unsorted collect_list consumed
order-sensitively, a float fold whose addition order floats with the
scan layout, `first()` without an ordered window) is a latent
hash-flake that only fires when the cluster layout changes. The r11
ANSI audit swept a semantics class; this sweeps the DETERMINISM class.

Mechanics: each query runs twice in the same session — once under the
repo-default conf, once with `spark.sql.shuffle.partitions=7` and
`spark.sql.files.maxPartitionBytes=64k` (forcing multi-split scans and
a different reduce fan-in even at sf0.001) — and the two results must
match exactly (sorted rows, exact float equality; the queries round
deterministically via functions/rounding.fround, so a 1-ulp
order-dependent sum that crosses a rounding half-boundary WOULD show
here — that is the point).

The default suite runs the curated order-sensitive subset (every
registered surface that folds, collects, or windows per-group arrays);
`SPARK_GRAFT_INVARIANCE=1` sweeps the full registry.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

from iot_big_data_engineering_spark.registry import all_queries

from .conftest import SF_SMOKE
from .oracle import _norm, _sortable

# The perturbed layout: a shuffle fan-in coprime with the default (so
# no key keeps its reducer), and splits small enough that even the
# sf0.001 parquet files scan as several partitions each.
_PERTURBED = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(64 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}

# Queries whose plans carry the order-sensitive construct classes the
# audit targets (collect_list folds, per-group arrays, first-over-window,
# iterative float updates) — always tested, even without the env flag.
_CURATED = [
    "adv9_latest_per_key",        # max_by over full rows
    "adv15_pagerank",             # iterative float updates + checkpoint
    "d7_dedup_clusters",          # union-find over collected edges
    "dp17_dsir_importance",       # ordered fold of per-bucket float sums
    "adv11_range_join",           # collect_list consumed via interval filter
    "t11_inverted_index",         # posting lists (sort_array'd)
    "t17b_collocations_pmi_log",  # log-space sum + rank at 6-dp ties
    "w7_event_funnel",            # first() over ordered window
    "mm6_shard_plan",             # two-phase prefix sum over byte offsets
    "g1_rollup_order_stats",      # rollup grouping-set floats
    "dq9_psi_drift",              # bin-ordered PSI fold
    "dp19_weighted_reservoir",    # salted two-stage A-ES rank
    "dq10_composition_drift",     # type-ordered JS fold
    "dq11_cusum_changepoint",     # day-ordered prefix folds + argmax
    "dq12_benford_audit",         # digit-ordered folds, global window
    "d13_containment_neardup",    # prefix-filter join over shingle sets
    "dp20_token_mass_quantiles",  # cumulative-mass window per source
    "t20_token_entropy_profile",  # token-ordered per-doc fold
]


@contextmanager
def _perturbed(spark):
    saved = {}
    for k, v in _PERTURBED.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _canon(df):
    rows = [tuple(_norm(v) for v in r) for r in df.collect()]
    return sorted(rows, key=_sortable)


def _assert_invariant(spark, query):
    spark.catalog.clearCache()
    base = _canon(query.fn(spark, SF_SMOKE))
    with _perturbed(spark):
        spark.catalog.clearCache()
        pert = _canon(query.fn(spark, SF_SMOKE))
    assert len(base) == len(pert), (
        f"{query.name}: row count varies with partitioning "
        f"({len(base)} vs {len(pert)})"
    )
    for i, (b, p) in enumerate(zip(base, pert)):
        assert b == p, (
            f"{query.name}: row {i} varies with partitioning:\n"
            f"  default:   {b!r}\n  perturbed: {p!r}"
        )


_ALL = all_queries()
_MISSING = [n for n in _CURATED if n not in _ALL]
assert not _MISSING, f"curated invariance names not registered: {_MISSING}"

_NAMES = (
    list(_ALL)
    if os.environ.get("SPARK_GRAFT_INVARIANCE")
    else _CURATED
)


@pytest.mark.parametrize("name", _NAMES)
def test_partition_invariance(spark, name):
    _assert_invariant(spark, _ALL[name])


# ---------------------------------------------------------------------------
# Session-timezone invariance (round 13; VERDICT r12 Next #7) — the
# fourth probe axis. The UTC discipline SURVEY §7.4-6 assumes is
# "wall-in, wall-out": testdata timestamps load as NTZ wall-clocks cast
# to TimestampType, so every wall-clock COMPUTATION round-trips through
# any session zone (interpret in Z, extract in Z) — date_trunc/window
# bucketing stays wall-aligned, ts differences cancel the offset, and
# every non-timestamp value must be bit-identical. The one
# definitionally session-relative thing is the INSTANT a passed-through
# NTZ wall denotes (instant = wall − offset(Z) by construction), so the
# probe renders timestamp echo columns back to their wall-clock (an NTZ
# cast, which inverts the load-time cast in the same zone) before
# comparing; a query that leaked epoch arithmetic into a compared
# NUMBER (unix_timestamp, raw internal micros) or misaligned a bucket
# still fails. Probing with Asia/Kathmandu (+05:45, no DST — the offset
# no whole-hour bucket alignment could mask) turns the argument into a
# measurement.
# ---------------------------------------------------------------------------
_TZ_PROBE = "Asia/Kathmandu"


def _walls(df):
    """Render TimestampType echo columns back to the session-zone
    wall-clock (NTZ cast) so only the definitional instant
    re-interpretation is normalized — everything else stays strict."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    return df.select(
        *[
            F.col(f.name).cast("timestamp_ntz").alias(f.name)
            if isinstance(f.dataType, T.TimestampType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )

# the partition-audit curated set plus the most timestamp-heavy compared
# surfaces (date bucketing, hourly windows, trailing ranges, session gaps)
_TZ_CURATED = _CURATED + [
    "a2_daily_analytics",     # date_trunc daily rollup
    "m10_hourly_quality",     # hourly window + injectable anchor
    "w5_trailing_hour_aggs",  # range-between on epoch seconds (internal)
    "p8_date_bucket",         # date-bucket predicate
    "adv1_sessionize",        # gap sessionization over ts diffs
    "w3_event_gaps",          # lead/lag ts deltas
]


@contextmanager
def _session_tz(spark, tz):
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


@pytest.mark.parametrize("name", _TZ_CURATED)
def test_session_timezone_invariance(spark, name):
    query = _ALL[name]
    spark.catalog.clearCache()
    base = _canon(_walls(query.fn(spark, SF_SMOKE)))
    with _session_tz(spark, _TZ_PROBE):
        spark.catalog.clearCache()
        probed = _canon(_walls(query.fn(spark, SF_SMOKE)))
    assert len(base) == len(probed), (
        f"{query.name}: row count varies with session timezone "
        f"({len(base)} vs {len(probed)})"
    )
    for i, (b, p) in enumerate(zip(base, probed)):
        assert b == p, (
            f"{query.name}: row {i} varies with session timezone:\n"
            f"  UTC-default: {b!r}\n  {_TZ_PROBE}: {p!r}"
        )
