#!/usr/bin/env python
"""Optimization probe: per-query wall time, Spark job count and
formatted plan capture for the bench headline set (or a named subset).

Usage:
    python tools/probe.py [query ...]        # default: full HEADLINE
    PROBE_REPS=3 PROBE_PLANS=plans PROBE_SUFFIX=_before \
        python tools/probe.py adv15_pagerank

Writes one JSON line per query to stdout:
    {"q": name, "best": s, "samples": [...], "jobs": n}
and (when PROBE_PLANS is set) the .explain("formatted") text to
$PROBE_PLANS/<q>$PROBE_SUFFIX.txt.

Timing methodology matches bench.py (count() on the returned frame,
clearCache() between reps) so numbers are comparable with bench.py's.
Job counting: deltas of the DAGScheduler's monotonic nextJobId counter,
not len(getJobIdsForGroup(None)) — the latter under-counts once the UI
evicts old jobs (spark.ui.retainedJobs, default 1000; a full 126-query
probe crosses it) and misses jobs run inside a job group."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from iot_big_data_engineering_spark.registry import queries  # noqa: E402
from iot_big_data_engineering_spark.session import get_spark  # noqa: E402


def _next_job_id(spark) -> int:
    """Monotonic count of all jobs ever submitted to this context —
    survives UI eviction and job groups."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROBE_REPS", "2"))
    plans_dir = os.environ.get("PROBE_PLANS", "")
    suffix = os.environ.get("PROBE_SUFFIX", "_before")
    names = sys.argv[1:] or HEADLINE

    spark = get_spark(app_name="probe")
    qs = queries()
    # warm JVM + python workers exactly like bench.py
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        fn = qs[name]
        samples = []
        jobs = 0
        for i in range(reps):
            spark.catalog.clearCache()
            j0 = _next_job_id(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.count()
            samples.append(round(time.perf_counter() - t0, 3))
            if i == 0:
                jobs = _next_job_id(spark) - j0
                if plans_dir:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                    with open(
                        os.path.join(plans_dir, f"{name}{suffix}.txt"), "w"
                    ) as f:
                        f.write(plan)
        print(
            json.dumps(
                {
                    "q": name,
                    "best": min(samples),
                    "samples": samples,
                    "jobs": jobs,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
