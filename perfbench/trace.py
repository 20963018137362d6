"""In-memory span tracer and the Spark/process probes the traced run reads.

A span is (name, start, end, parent, op). Spans nest per thread; a span
opened on a worker thread with no open span of its own takes as parent
the innermost span open on the thread that opened the operation's root
span, so the pipeline's per-file thread pool hangs off the
``run_bulk_import`` call that is waiting for it. A span's self time is
its duration minus the union of the intervals its children cover.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """A disabled tracer records nothing: the timed run passes one, so it
    runs the same code as the traced run."""

    def __init__(self, enabled: bool = True):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[Span] = []
        self.op: int | None = None
        self.enabled = enabled

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._root_stack[-1] if self._root_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent.sid if parent else None, self.op)
            self.spans.append(s)
        if not stack and not self._root_stack:
            self._root_stack = stack
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def self_times(self) -> dict[str, float]:
        """Layer (span-name prefix before the first dot) -> summed self
        seconds over every span."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
                        for s in self.spans
                    ],
                },
                f,
            )


class SparkProbe:
    """Cumulative Spark counters: jobs, stages and tasks from the status
    tracker, and JVM garbage-collection time. All are process totals;
    take differences around an operation."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._seen: set[int] = set()
        self._jvm = spark._jvm

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def new_work(self) -> tuple[int, int, int]:
        """(jobs, stages, tasks) submitted since the previous call. Jobs
        run outside any job group (the pipeline's worker threads do not
        inherit one), so the ungrouped job list is the complete list."""
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j not in self._seen]
        self._seen.update(jobs)
        stages = tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                stages += 1
                tasks += st.numTasks if st is not None else 0
        return len(jobs), stages, tasks


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(pids) -> None:
    """Set each process's resident high-water mark to its current resident
    set (Linux ``clear_refs`` 5), so a later ``peak_rss_mb`` covers only
    what ran in between."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids) -> float:
    """Summed resident high-water mark (Linux ``VmHWM``) of ``pids``."""
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024.0
