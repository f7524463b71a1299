"""In-memory spans, statistics and Spark counters for the benchmark.

A span is (name, start, end, parent, request id); spans are kept in a list
until the run ends.  Self time of a span is its duration minus the part of
its interval covered by its child spans.  With tracing off, `span` is a
no-op context manager, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import resource
import statistics
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = {"id": next(self._ids), "name": name, "request": request,
              "parent": stack[-1]["id"] if stack else None,
              "start": time.perf_counter(), "end": None}
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            own = s["end"] - s["start"] - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; +inf entries stand for failed operations."""
    if not values:
        return math.nan
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def rss_peak_mb(java_pids: list[int]) -> float:
    """Peak RSS of this Python process plus the current RSS of the JVM(s)."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    for pid in java_pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return mb


class JobCounter:
    """Jobs, stages and tasks per job group, from the status tracker."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for st in info.stageIds:
                si = self.tracker.getStageInfo(st)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks
