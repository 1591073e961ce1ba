"""The benchmark's closed-loop client: one process, one Spark session.

Started by ``perfbench/run.py`` from the repo root (``python3 -m
perfbench.client ...``). A run has two phases:

- set-up (``setup_s``): ``session.get_spark`` and the untimed warm
  passes over every op type, which absorb JIT, codegen and Python-worker
  start-up. Benchmark-side input generation happens before it and is not
  counted;
- measured: ops are timed one at a time from outside the engine until
  ``--seconds`` of measured time have passed. ``dashboard`` runs whole
  seed-ordered passes over its op list, so every op type has the same
  weight in every run, and reports its rates for a typical pass (each op
  type at its median latency). Cache release between ops
  (``caching.release_caches``) is outside op timing but inside the
  measured time.

Outputs are checked against DuckDB after the measured phase. The last
stdout line is the result JSON; the line before it holds run details
(per-op latencies, errors, check results and machine context).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, gen
from perfbench.trace import Tracer, parse_event_log

from iot_big_data_engineering_spark import caching, registry
from iot_big_data_engineering_spark.session import get_spark
from iot_big_data_engineering_spark.sources.sensor_view import SENSOR_ORACLE_CTE
from iot_big_data_engineering_spark.streaming import pipeline

# A fixed driver heap limit, well below the host's memory.
DRIVER_MEMORY = "1g"
# Fixed-work CPU canary (BLAS matmul) and its quiet reading on the 4-core
# host the benchmark was defined on. Reported as machine context beside
# the metrics, never as a metric or a gate.
QUIET_CANARY_S = 0.12

DASHBOARD_EVENTS = 100_000
DASHBOARD_OPS = [
    "o1_filtered_scan_paginated",
    "o1b_filtered_scan_keyset",
    "p7_vehicle_scan",
    "p8_date_bucket",
    "p10_json_extract",
    "o4_anomaly_listing",
    "a2_daily_analytics",
    "a9_vehicle_topk",
    "m10_hourly_quality",
    "m15_alerts",
    "m18_metrics_export",
]
DELIVERY_ROWS = 5_000
DELIVERY_SPAN_US = 3600 * 1_000_000


# ---------------------------------------------------------------------------
# Machine context and process accounting, from /proc (psutil is not
# installed).
# ---------------------------------------------------------------------------
def canary() -> float:
    a = np.full((1000, 1000), 0.5)
    a @ a
    t0 = time.perf_counter()
    for _ in range(2):
        a @ a
    return time.perf_counter() - t0


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def engine_pids() -> list[int]:
    """This driver process and its JVM child."""
    pids = [os.getpid()]
    for d in os.listdir("/proc"):
        try:
            if d.isdigit() and int(_stat_fields(d)[1]) == os.getpid():
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    if b"java" in f.read().split(b"\0")[0]:
                        pids.append(int(d))
        except OSError:
            pass  # the process ended while we looked
    return pids


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by ``pids``."""
    return sum(int(f[11]) + int(f[12]) for f in map(_stat_fields, pids)) / _TICK


def host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Ctx:
    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer


# ---------------------------------------------------------------------------
# Workloads: prepare() writes the inputs (before set-up), warm() is the
# set-up's warm phase, op() runs one timed op and returns the rows it
# delivered, after_op() runs outside op timing, check() compares outputs.
# ---------------------------------------------------------------------------
class Workload:
    ops: list[str]
    # measure whole passes over ``ops`` and report rates per typical pass
    whole_passes = True
    warm_passes = 1

    def after_op(self, ctx: Ctx) -> None:
        pass


class Dashboard(Workload):
    """API and monitoring requests over one seeded events table, each
    collected to the driver as the REST layer would return it."""

    ops = DASHBOARD_OPS

    def prepare(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "tables")
        os.makedirs(self.dir)
        gen.write(gen.events(seed, DASHBOARD_EVENTS), os.path.join(self.dir, "events.parquet"))
        self.queries = registry.all_queries()
        self.results: dict[str, tuple[list[str], list]] = {}

    def warm(self, ctx: Ctx) -> None:
        for _ in range(self.warm_passes):
            for name in self.ops:
                self.op(ctx, name, name)

    def op(self, ctx: Ctx, op_id: str, name: str) -> int:
        with ctx.tracer.phase(op_id, "build"):
            df = self.queries[name].fn(ctx.spark, self.dir)
        with ctx.tracer.phase(op_id, "action"):
            rows = df.collect()
        self.results[name] = (df.columns, rows)
        return len(rows)

    def check(self) -> dict:
        oracles = registry.oracle_sql()
        return {
            name: checks.against_oracle(*self.results[name], oracles[name], self.dir)
            if name in self.results else {"ok": False, "error": "no successful run"}
            for name in self.ops
        }


class Ingest(Workload):
    """Seeded events files land one by one; after each, the reference
    pipeline runs with ``availableNow`` on one checkpoint into three
    epoch-partitioned parquet sinks."""

    ops = ["delivery"]
    whole_passes = False
    # delivery times kept falling over the first ~5 deliveries (JIT)
    warm_passes = 4

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.src = os.path.join(work, "landing")
        self.stage = os.path.join(work, "staging")
        self.out = os.path.join(work, "sinks")
        for d in (self.src, self.stage, self.out):
            os.makedirs(d, exist_ok=True)
        self.delivered: list[str] = []
        self.sinks: dict[str, str] = {}
        self.sink_growth: list[tuple[int, int]] = []  # (files, bytes) per traced delivery
        self._stage(0)

    def _stage(self, k: int) -> None:
        t = gen.events(
            self.seed, DELIVERY_ROWS, first_id=k * DELIVERY_ROWS,
            t0_us=gen.to_us(gen.EVENTS_T0) + k * DELIVERY_SPAN_US,
            span_us=DELIVERY_SPAN_US, salt=k + 1,
        )
        gen.write(t, os.path.join(self.stage, f"events_{k:05d}.parquet"))

    def warm(self, ctx: Ctx) -> None:
        for _ in range(self.warm_passes):
            self.op(ctx, "warm", "delivery")
            self.after_op(ctx)

    def _sink_totals(self) -> tuple[int, int]:
        stats = [_dir_stats(p) for p in self.sinks.values()]
        return sum(f for f, _ in stats), sum(b for _, b in stats)

    def op(self, ctx: Ctx, op_id: str, name: str) -> int:
        k = len(self.delivered)
        path = os.path.join(self.src, f"events_{k:05d}.parquet")
        os.replace(os.path.join(self.stage, f"events_{k:05d}.parquet"), path)
        self.delivered.append(path)
        with ctx.tracer.phase(op_id, "delivery"):
            self.sinks = pipeline.run_microbatch_pipeline(
                ctx.spark, self.src, self.out, glob="events_*.parquet"
            )
        return DELIVERY_ROWS

    def after_op(self, ctx: Ctx) -> None:
        """Outside op timing: in the traced run, the sink growth of a
        traced delivery; then the next delivery file is generated
        (benchmark-side, not measured)."""
        if ctx.tracer.enabled:
            totals = self._sink_totals()
            if ctx.tracer.active:
                prev = self._last_totals
                self.sink_growth.append((totals[0] - prev[0], totals[1] - prev[1]))
            self._last_totals = totals
        self._stage(len(self.delivered))

    def check(self) -> dict:
        oracles = {
            "quality": SENSOR_ORACLE_CTE + "SELECT * FROM sensor_quality_checked",
            "anomalies": SENSOR_ORACLE_CTE + "SELECT * FROM sensor_quality_checked WHERE anomaly_score > 0",
            "analytics": registry.oracle_sql()["a1_windowed_analytics"],
        }
        return {"delivery": checks.ingest(
            self.sinks, self.delivered, DELIVERY_ROWS * len(self.delivered), oracles)}


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard}


# ---------------------------------------------------------------------------
def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args) -> dict:
    root, work = os.getcwd(), args.work
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    canary_start = canary()

    wl = WORKLOADS[args.workload]()
    wl.prepare(work, args.seed)
    ncpu = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{ncpu}]",
        shuffle_partitions=ncpu, extra_conf=conf,
    )
    t_spark = time.perf_counter()
    tracer = Tracer(spark.sparkContext, args.trace)
    if args.trace:
        tracer.wrap("iot_big_data_engineering_spark.sources.tables.load_table", "sources.load_table", "load_table")
        tracer.wrap("iot_big_data_engineering_spark.streaming.pipeline.sensor_stream", "sources.stream_schema")
    ctx = Ctx(spark, tracer)
    wl.warm(ctx)
    caching.release_caches()
    t_warm = time.perf_counter()
    detail.update(get_spark_s=t_spark - t0, warm_s=t_warm - t_spark)

    # -- measured phase ------------------------------------------------------
    order_rng = random.Random(args.seed)
    pids = engine_pids()
    host0 = host_cpu()
    lat: list[tuple[str, float, bool]] = []  # (op type, seconds, traced)
    op_cpu: list[float] = []
    rows = attempted = failed = 0
    op_rows: dict[str, int] = {}  # rows returned by each op type's last run
    measured_s = release_s = 0.0
    errors: list[str] = []
    unit_s: list[float] = []
    while True:
        # a unit is one pass (dashboard) or one delivery (ingest);
        # the traced run alternates traced and untraced units
        tracer.active = bool(args.trace) and len(unit_s) % 2 == 0
        names = list(wl.ops)
        order_rng.shuffle(names)
        for name in names:
            op_id = f"op{attempted:04d}.{name}"
            attempted += 1
            c = cpu_s(pids)
            a = time.perf_counter()
            try:
                with tracer.span("op", op_id):
                    n = wl.op(ctx, op_id, name)
                dt = time.perf_counter() - a
                op_cpu.append(cpu_s(pids) - c)
                lat.append((name, dt, tracer.active))
                rows += n
                op_rows[name] = n
            except Exception:
                dt = time.perf_counter() - a
                failed += 1
                errors.append(f"{op_id}: {traceback.format_exc(limit=3)[-600:]}")
                print(errors[-1], file=sys.stderr)
            b = time.perf_counter()
            with tracer.span("caching.release", op_id):
                caching.release_caches()
            rel = time.perf_counter() - b
            release_s += rel
            measured_s += dt + rel
            wl.after_op(ctx)
            if not wl.whole_passes and measured_s >= args.seconds:
                break
        unit_s.append(measured_s - sum(unit_s))
        if measured_s >= args.seconds and (not args.trace or len(unit_s) >= 2):
            break
    tracer.active = False
    peak_mb = [peak_rss_mb(p) for p in pids]
    detail.update(python_peak_rss_mb=peak_mb[0], jvm_peak_rss_mb=sum(peak_mb[1:]))
    host = [b - a for a, b in zip(host0, host_cpu())]

    layers = {}
    spark.stop()
    if args.trace:
        stage = parse_event_log(log_dir)
        layers = per_layer(tracer, stage, lat, wl, detail, ncpu, release_s)
        tracer.write_spans(os.path.join(root, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))

    try:
        checks_out = wl.check()
    except Exception:
        checks_out = {"check": {"ok": False, "error": traceback.format_exc(limit=3)[-600:]}}
    correct = all(c["ok"] for c in checks_out.values())

    ok_lat = [s for _, s, _ in lat]
    canary_end = canary()
    detail.update(
        ops=len(ok_lat), measured_s=measured_s, unit_s=unit_s, release_s=release_s,
        op_median_s={n: statistics.median([s for m, s, _ in lat if m == n]) for n in {m for m, _, _ in lat}},
        op_s=[(name, round(sec, 4)) for name, sec, _ in lat], op_cpu_s=[round(x, 3) for x in op_cpu],
        errors=errors, checks=checks_out,
        cpu_s_per_op=sum(op_cpu) / len(op_cpu) if op_cpu else None,
        machine={
            "quiet_canary_s": QUIET_CANARY_S, "canary_start_s": canary_start, "canary_end_s": canary_end,
            "canary_start_ratio": canary_start / QUIET_CANARY_S, "canary_end_ratio": canary_end / QUIET_CANARY_S,
            "host_steal_share": host[7] / max(sum(host), 1),
        },
    )
    # the highest percentile with at least ten samples above it
    # (p90 once a run has 100 ops)
    q = 100 * (len(ok_lat) - 10) // len(ok_lat) if ok_lat else 0
    if q >= 50:
        detail[f"op_p{q}_s"] = statistics.quantiles(ok_lat, n=100)[q - 1]
    print(json.dumps({"detail": detail}, default=str))

    if args.trace:
        metrics = layers
    else:
        if wl.whole_passes and ok_lat:
            # the rate of a typical pass, each op type at its median latency:
            # a co-tenant burst that slows a few ops of a run, or the slower
            # first measured pass after the one warm pass, moves it little,
            # unlike ops over measured time. Failed ops count against it.
            pass_s = sum(detail["op_median_s"].values())
            ok_share = len(ok_lat) / attempted
            ops_per_s = ok_share * len(op_rows) / pass_s
            rows_per_s = ok_share * sum(op_rows.values()) / pass_s
        else:
            ops_per_s = len(ok_lat) / measured_s
            rows_per_s = rows / measured_s
        metrics = {
            "setup_s": _metric(detail["get_spark_s"] + detail["warm_s"], "s"),
            "op_p50_s": _metric(statistics.median(ok_lat) if ok_lat else float("nan"), "s"),
            "ops_per_s": _metric(ops_per_s, "1/s"),
            "rows_per_s": _metric(rows_per_s, "rows/s"),
            "peak_rss_mb": _metric(sum(peak_mb), "MB"),
        }
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def per_layer(tracer: Tracer, stage, lat, wl, detail, ncpu, release_s) -> dict:
    """Per-op means of each layer over the traced ops of the run."""
    jobs: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for group, v in stage.items():
        phase = group.split("/")[1]
        jobs[phase] = jobs.get(phase, 0) + v["jobs"]
        tasks[phase] = tasks.get(phase, 0) + v["tasks"]

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)

    def count(name: str) -> int:
        return sum(1 for s in tracer.spans if s["name"] == name)

    n = max(count("op"), 1)

    def total(key: str) -> float:
        return sum(v[key] for v in stage.values())

    run_s = total("executor_run_s")
    skews = [s for v in stage.values() for s in v["skews"]]
    op_wall = span_s("op")
    traced = [s for _, s, t in lat if t]
    untraced = [s for _, s, t in lat if not t]
    overhead = statistics.median(traced) - statistics.median(untraced) if traced and untraced else 0.0
    deliveries = count("delivery")
    ingest = isinstance(wl, Ingest)
    growth = wl.sink_growth if ingest else []
    per_delivery = (lambda v: v / deliveries) if deliveries else (lambda v: 0.0)
    return {
        "session.get_spark_s": _metric(detail["get_spark_s"], "s"),
        "session.warm_s": _metric(detail["warm_s"], "s"),
        "sources.load_table_calls": _metric(count("sources.load_table") / n, "count/op"),
        "sources.load_table_s": _metric(span_s("sources.load_table") / n, "s/op"),
        "sources.load_table_jobs": _metric(jobs.get("load_table", 0) / n, "count/op"),
        "sources.stream_schema_s": _metric(span_s("sources.stream_schema") / n, "s/op"),
        "query.build_s": _metric(span_s("build") / n, "s/op"),
        "query.build_jobs": _metric((jobs.get("build", 0) + jobs.get("load_table", 0)) / n, "count/op"),
        "query.action_s": _metric(span_s("action") / n, "s/op"),
        "query.action_jobs": _metric(jobs.get("action", 0) / n, "count/op"),
        "query.action_tasks": _metric(tasks.get("action", 0) / n, "count/op"),
        "query.executor_busy_ratio": _metric(run_s / (op_wall * ncpu) if op_wall else 0.0, "ratio"),
        "stage.executor_run_s": _metric(run_s / n, "s/op"),
        "stage.shuffle_read_bytes": _metric(total("shuffle_read_bytes") / n, "B/op"),
        "stage.shuffle_write_bytes": _metric(total("shuffle_write_bytes") / n, "B/op"),
        "stage.spill_bytes": _metric(total("spill_bytes") / n, "B/op"),
        # run-time-weighted mean over stages of two or more tasks
        "stage.task_skew": _metric(sum(r * w for r, w in skews) / max(sum(w for _, w in skews), 1), "ratio"),
        "streaming.delivery_s": _metric(per_delivery(span_s("delivery")), "s/op"),
        "streaming.delivery_jobs": _metric(per_delivery(jobs.get("delivery", 0)), "count/op"),
        "sinks.files_per_delivery": _metric(statistics.mean(f for f, _ in growth) if growth else 0.0, "count/op"),
        "sinks.bytes_per_delivery": _metric(statistics.mean(b for _, b in growth) if growth else 0.0, "B/op"),
        "streaming.checkpoint_bytes": _metric(
            _dir_stats(os.path.join(wl.out, "_checkpoint"))[1] if ingest else 0, "B"),
        "caching.release_s": _metric(release_s / max(len(lat), 1), "s/op"),
        "memory.python_peak_rss_mb": _metric(detail["python_peak_rss_mb"], "MB"),
        "memory.jvm_peak_rss_mb": _metric(detail["jvm_peak_rss_mb"], "MB"),
        "trace.overhead_s": _metric(overhead, "s"),
        "trace.overhead_share": _metric(overhead / statistics.median(untraced) if untraced else 0.0, "ratio"),
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--work", required=True, help="scratch directory, removed by run.py")
    print(json.dumps(run(p.parse_args()), default=str))


if __name__ == "__main__":
    main()
