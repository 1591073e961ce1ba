"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here goes through public surfaces:

- each op phase runs under ``SparkContext.setJobGroup("<op>/<phase>")``
  and the local property ``perfbench.op`` set to the same name, which the
  Spark event log carries on every job and stage. Streaming queries
  replace the job group with their run id but inherit local properties
  from the thread that starts them, so delivery jobs are attributed too;
- job and task counts and stage metrics (executor run time, shuffle
  bytes, spill, per-task times) per group come from parsing the JSON
  event log after the session stops;
- ``load_table`` and ``pipeline.sensor_stream`` are wrapped at their
  module bindings in the traced run only.

Spans (name, start, end, parent, op id) stay in memory and are written
as one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

OP_PROP = "perfbench.op"
_PKG = "iot_big_data_engineering_spark"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = False  # tracing the current pass (interleaved with untraced ones)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._group: str | None = None

    # -- spans and job tags -------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.active:
            yield
            return
        op = op or self._op
        sid = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None, "op": op}
        )
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.sc.setLocalProperty(OP_PROP, None)
        else:
            self.sc.setJobGroup(group, group)
            self.sc.setLocalProperty(OP_PROP, group)
        self._group = group

    @contextlib.contextmanager
    def phase(self, op: str, phase: str):
        """One phase of one op: a span plus a job group ``<op>/<phase>``."""
        if not self.active:
            yield
            return
        group = f"{op}/{phase}"
        prev_op, prev_group = self._op, self._group
        self._op = op
        self._set_group(group)
        try:
            with self.span(phase, op):
                yield
        finally:
            self._set_group(prev_group)
            self._op = prev_op

    # -- wrappers around engine bindings ------------------------------------
    def wrap(self, qualname: str, span_name: str, group_phase: str | None = None) -> None:
        """Replace every module-level binding of ``module.attr`` inside the
        engine package with a wrapper that records a span and, when
        ``group_phase`` is set, runs the call under its own job group."""
        mod_name, attr = qualname.rsplit(".", 1)
        orig = getattr(sys.modules[mod_name], attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active or tracer._op is None:
                return orig(*args, **kwargs)
            prev = tracer._group
            if group_phase:
                tracer._set_group(f"{tracer._op}/{group_phase}")
            try:
                with tracer.span(span_name):
                    return orig(*args, **kwargs)
            finally:
                if group_phase:
                    tracer._set_group(prev)

        for name, mod in list(sys.modules.items()):
            if name.startswith(_PKG) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per ``perfbench.op`` group, from the JSON event log: jobs,
    successful tasks, executor run time, shuffle read/write bytes, disk
    spill and the task skew (max / median task time) of each stage with
    two or more tasks."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    job_groups: list[str] = []
    tasks: dict[int, list[dict]] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(OP_PROP)
                if group:
                    job_groups.append(group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(OP_PROP)
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for g in job_groups:
        out.setdefault(g, _empty())["jobs"] += 1
    for stage, group in stage_group.items():
        acc = out.setdefault(group, _empty())
        durations = []
        for ev in tasks.get(stage, []):
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc["tasks"] += ev["Task End Reason"]["Reason"] == "Success"
            durations.append(info["Finish Time"] - info["Launch Time"])
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        if len(durations) >= 2:
            med = statistics.median(durations)
            acc["skews"].append((max(durations) / max(med, 1), sum(durations)))
    return out


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "skews": []}
