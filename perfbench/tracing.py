"""Spans recorded around calls into the engine, with Spark task metrics.

A span is one call into a module's public function: name, start, end,
parent span and the trace id shared by one benchmark run, plus counts
the caller attaches. Spans are kept in memory. After the Spark session
stops, ``attach_task_metrics`` reads Spark's own event log and adds the
task metrics of every job submitted inside each span's time window.

Jobs are matched to spans by time, not by job group: the benchmark sets
a job group per span, but the pipeline submits its channel jobs from
worker threads that do not inherit it. Spans never overlap in time
except parent and child, so the window match is exact for leaf spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, trace_id: str | None = None):
        self.spark = spark
        self.trace_id = trace_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        rec = {
            "name": name,
            "span_id": uuid.uuid4().hex[:12],
            "parent": parent["span_id"] if parent else None,
            "trace_id": self.trace_id,
            "start": time.time(),
            "counts": {},
        }
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["span_id"], name)
        try:
            yield rec
        finally:
            sc.setJobGroup(None, None)
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self.spans.append(rec)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["span_id"]]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, **extra, "spans": self.spans},
                      f, indent=1, default=str)


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.endswith(".crc")]
    return sorted(out)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every event-log file (rolled parts included)."""
    jobs, tasks = [], []
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"t": ev["Submission Time"] / 1e3})
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1e3,
                        "finish": info["Finish Time"] / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "sh_read_b": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "sh_write_b": wr.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def _busy_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def task_metrics(jobs: list[dict], tasks: list[dict], start: float,
                 end: float) -> dict:
    """Spark's task metrics for the jobs and tasks started in a window."""
    mine = [t for t in tasks if start <= t["launch"] <= end]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    # skew: the worst stage's slowest task over its median task
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) > 1 and statistics.median(v) > 0]
    busy = _busy_s([(t["launch"], min(t["finish"], end)) for t in mine])
    return {
        "jobs": sum(1 for j in jobs if start <= j["t"] <= end),
        "tasks": len(mine),
        "task_s": sum(t["run_s"] for t in mine),
        "cpu_s": sum(t["cpu_s"] for t in mine),
        "gc_s": sum(t["gc_s"] for t in mine),
        "spill_mb": sum(t["spill_b"] for t in mine) / 1e6,
        "shuffle_read_mb": sum(t["sh_read_b"] for t in mine) / 1e6,
        "shuffle_write_mb": sum(t["sh_write_b"] for t in mine) / 1e6,
        "task_skew": max(skews, default=1.0),
        # wall time in the window with no task running: driver-side
        # planning, job submission and result collection
        "driver_gap_s": max(0.0, (end - start) - busy),
    }


def attach_task_metrics(tracer: Tracer, log_dir: str) -> None:
    jobs, tasks = read_event_log(log_dir)
    for s in tracer.spans:
        s["spark"] = task_metrics(jobs, tasks, s["start"], s["end"])
