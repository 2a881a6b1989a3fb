"""Spans around the benchmark's calls into the engine, plus the counters
read from outside the engine: Spark's status tracker, its event log and
/proc.

A span records name, start, end, parent span and request id.  Spans stay in
memory and are written once, when the run ends.  With tracing off every
call below is a no-op, so the untraced pass pays nothing but a branch.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


GROUP_PREFIX = "pbt-"  # job groups of traced requests


class Tracer:
    """Records spans when given the Spark session; ``Tracer()`` is off."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": self._request, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request(self, request_id: str, name: str = "request"):
        """Root span of one client operation.  Its Spark jobs run under a
        job group named after the request, so the status tracker (jobs,
        stages, tasks) and the event log (task metrics) attribute them."""
        if not self.enabled:
            yield None
            return
        group = GROUP_PREFIX + request_id
        self._request = request_id
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._request = None
        rec.update(job_counts(self.sc, group))

    def self_times(self) -> list[dict]:
        """Each span's self time: its duration minus the part of it that
        its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "dur_ms": (s["end"] - s["start"]) * 1e3,
                        "self_ms": (s["end"] - s["start"] - covered) * 1e3})
        return out

    def self_ms(self, name: str) -> list[float]:
        return [s["self_ms"] for s in self.self_times() if s["name"] == name]

    def summary(self) -> dict:
        by: dict[str, list[float]] = {}
        for s in self.self_times():
            by.setdefault(s["name"], []).append(s["self_ms"])
        return {n: {"count": len(v), "self_ms_total": sum(v),
                    "self_ms_median": statistics.median(v)}
                for n, v in sorted(by.items())}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.self_times(), "self_time_summary":
                       self.summary(), **extra}, f, indent=1)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks a job group ran, from the status tracker.
    Stages skipped because their shuffle output was reused run no task and
    are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def event_log_metrics(events_dir: str, exclude: frozenset = frozenset()) -> dict:
    """Task metrics summed over the stages of traced requests' jobs (job
    groups under GROUP_PREFIX, minus ``exclude``), read from the Spark event
    log, which is complete only after the context stops."""
    stage_in_scope: dict[int, bool] = {}
    tot = {"shuffle_write_bytes": 0, "spill_bytes": 0,
           "executor_run_s": 0.0, "gc_s": 0.0}
    for name in sorted(os.listdir(events_dir)):
        with open(os.path.join(events_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_in_scope[sid] = (g.startswith(GROUP_PREFIX)
                                               and g not in exclude)
                elif kind == "SparkListenerTaskEnd":
                    if not stage_in_scope.get(ev.get("Stage ID"), False):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                                   or {}).get("Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return tot


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
