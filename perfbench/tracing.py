"""Spans around layer calls, Spark job accounting, and the event-log reader.

Spans are recorded from the benchmark's side: during a traced pass the
layer functions the engine calls are swapped for wrappers that open a span
(name, start, end, parent, pass id) and call through. Spans stay in memory.
A span's self time is its duration minus the time its child spans cover,
so the self times of one pass add up to the pass wall exactly; the root
span's self time is the part no layer explains.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int):
        rec = {
            "name": name,
            "pass": pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def innermost(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def wrap(self, fn, name: str, pass_id: int, only_under: str | None = None):
        """``fn`` inside a span; with ``only_under``, only when the
        innermost open span has that name (otherwise a plain call)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if only_under is not None and self.innermost() != only_under:
                return fn(*args, **kwargs)
            with self.span(name, pass_id):
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Summed self time per span name within one pass."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["pass"] == pass_id and s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["pass"] == pass_id:
                out[s["name"]] += s["end"] - s["start"] - child_time[i]
        return dict(out)


@contextlib.contextmanager
def patched(*replacements):
    """Temporarily set ``(owner, attr, value)`` triples; restores on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in replacements]
    try:
        for owner, attr, value in replacements:
            setattr(owner, attr, value)
        yield
    finally:
        for owner, attr, value in reversed(saved):
            setattr(owner, attr, value)


# --- Spark job accounting ---------------------------------------------------

def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def jobs_after(spark, after_id: int) -> list[dict]:
    """Jobs with id > ``after_id`` from Spark's status store (newest first
    there; returned oldest first). Counting by id, not by job group, also
    catches the jobs a streaming query runs under its own group."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_id:
            break
        sub, end = j.submissionTime(), j.completionTime()
        out.append({
            "id": j.jobId(),
            "stages": j.numCompletedStages(),
            "tasks": j.numCompletedTasks(),
            "start_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": end.get().getTime() if end.isDefined() else None,
        })
    return out[::-1]


def union_s(intervals_ms: list[tuple[int, int]], lo_ms: float, hi_ms: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi], in seconds."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals_ms):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


# --- event log --------------------------------------------------------------

EVENTLOG_METRICS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.output_bytes",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def eventlog_totals(log_dir: str, app_id: str, job_ranges: dict[int, tuple[int, int]]):
    """Task metrics summed per pass. ``job_ranges`` maps a pass id to its
    (first, last) job id; tasks are attributed through their stage's job."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        return {}
    stage_pass: dict[int, int] = {}
    out = {p: dict.fromkeys(EVENTLOG_METRICS, 0.0) for p in job_ranges}
    with open(paths[0]) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for p, (lo, hi) in job_ranges.items():
                    if lo <= ev["Job ID"] <= hi:
                        for sid in ev["Stage IDs"]:
                            stage_pass[sid] = p
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                p = stage_pass.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if p is None or not m:
                    continue
                acc = out[p]
                acc["spark.executor_run_s"] += m["Executor Run Time"] / 1e3
                acc["spark.executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                acc["spark.jvm_gc_s"] += m["JVM GC Time"] / 1e3
                acc["spark.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["spark.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                acc["spark.input_bytes"] += m["Input Metrics"]["Bytes Read"]
                acc["spark.output_bytes"] += m["Output Metrics"]["Bytes Written"]
    return out
