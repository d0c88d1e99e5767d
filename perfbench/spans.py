"""Spans, Spark event-log attribution and sample statistics.

A span wraps one call into a layer's public function. Spans are kept in
memory (name, start, end, parent) and written out at the end of a run. While
a span is open, its id is the SparkContext job group, so every job, stage and
task in Spark's event log can be attributed to the layer that caused it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "group": f"{sid}:{name}",
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self._set_group(parent)

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> own time: its duration minus its direct children's."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def totals_by_name(spans: list[dict], self_time: bool = False) -> dict[str, list[float]]:
    """Span name -> list of (inclusive or self) durations, one per call."""
    own = self_times(spans) if self_time else None
    out: dict[str, list[float]] = {}
    for s in spans:
        d = own[s["id"]] if own is not None else s["end"] - s["start"]
        out.setdefault(s["name"], []).append(d)
    return out


MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> dict:
    """The ``q`` quantile (0 < q < 1) with its sample count. The value is
    withheld (None) unless at least ``MIN_BEYOND`` samples lie above it."""
    n = len(values)
    if n == 0:
        return {"value": None, "n": 0, "beyond": 0}
    xs = sorted(values)
    pos = q * (n - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = sum(1 for x in xs if x > v)
    return {"value": v if beyond >= MIN_BEYOND else None, "n": n, "beyond": beyond}


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "scheduler_delay_s", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "input_records",
)


def _zero() -> dict:
    return {k: 0 for k in ENGINE_KEYS}


def read_event_log(log_dir: str) -> list[dict]:
    """One record per job over every application log in ``log_dir``: its job
    group (``""`` outside any), submission time (epoch ms) and engine totals
    of its completed stages and finished tasks."""
    jobs: list[dict] = []
    stage_job: dict[tuple[str, int], dict] = {}
    for app, path in _log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                        "submitted": ev.get("Submission Time", 0),
                        **_zero(),
                    }
                    job["jobs"] = 1
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = job
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get((app, ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((app, ev["Stage ID"]))
                    if job is not None:
                        _add_task(job, ev)
    return jobs


def _log_files(log_dir: str):
    """(application, file) pairs: plain event-log files, and the ``events_*``
    parts of rolling (``eventlog_v2_*``) application directories, in order."""
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isdir(app):
            yield app, app
            continue
        parts = glob.glob(os.path.join(app, "events_*"))
        for part in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
            yield app, part


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    acc["task_run_s"] += run_ms / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    acc["scheduler_delay_s"] += max(0, dur - overhead) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    im = m.get("Input Metrics") or {}
    acc["input_bytes"] += im.get("Bytes Read", 0)
    acc["input_records"] += im.get("Records Read", 0)


def sum_jobs(jobs: list[dict], keep) -> dict:
    total = _zero()
    for job in jobs:
        if keep(job):
            for k in ENGINE_KEYS:
                total[k] += job[k]
    return total
