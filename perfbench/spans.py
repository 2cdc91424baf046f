"""Spans, Spark job/task counts and process memory for the benchmark.

Spans are recorded only in the traced run, from the benchmark's own
files around each call into a layer of tcrd_spark; the untraced run
pays one attribute check per call.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and run id. Written out
    as JSON at exit by `dump`. A span's parent is the innermost open span
    of the same thread."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span; `parent` names the parent of a span opened
        first in a new thread."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {
                "id": len(self.spans), "name": name, "run": self.run_id,
                "parent": stack[-1] if stack else parent,
                "start": time.perf_counter(), "end": None, **attrs,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called `name`, from span `since` on."""
        return [s["end"] - s["start"] for s in self.spans[since:]
                if s["name"] == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [{**s, "self": selfs[s["id"]]} for s in self.spans], fh,
                indent=0,
            )


class JobCounter:
    """Counts the Spark jobs and tasks an operation launches, through a
    job group per operation and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, out: dict):
        """Count the jobs of the block (and of threads that join the
        yielded group id) into out["jobs"] and out["tasks"]."""
        gid = f"perfbench-{uuid.uuid4().hex}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            out["jobs"] = len(jobs)
            out["tasks"] = tasks


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(percentile, value, n): the highest of a fixed ladder of
    percentiles (nearest rank) with at least ten samples beyond it;
    the median when there are too few samples for any."""
    xs = sorted(xs)
    n = len(xs)
    best = (50.0, median(xs), n)
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        i = max(0, math.ceil(p / 100 * n) - 1)
        if n - 1 - i >= 10:
            best = (p, xs[i], n)
    return best


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the JVM it drives,
    from /proc (VmHWM)."""
    kb = _hwm_kb("self") + (_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
