"""In-memory span tracer and Spark work counters for the benchmark.

Spans are recorded from the benchmark's own files, around calls into
the program's layers: :meth:`Tracer.wrap` replaces a module or object
attribute with a timing wrapper for the life of the traced run. The
program itself carries no tracing code.

A span is (name, start, end, parent, op id). Spans live in memory and
are written out once, at exit (:meth:`Tracer.dump`). A span's self
time is its duration minus the part of its interval that its child
spans cover (:func:`self_times`).
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover (children
    clipped to the parent's interval, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.id: (s.end - s.start) - _covered(kids.get(s.id, []))
        for s in spans
    }


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise,
    so the untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._setup_end: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name``; restored
        by :meth:`unwrap_all`. No-op when tracing is off."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        had_own = isinstance(owner, type) or attr in getattr(owner, "__dict__", {})
        self._undo.append((owner, attr, fn if had_own else None))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            if fn is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, fn)
        self._undo.clear()

    def end_setup(self) -> None:
        """Mark the end of set-up: spans recorded so far are set-up spans."""
        self._setup_end = len(self.spans)

    def setup_s(self, name: str) -> float:
        """Median duration (s) of the set-up spans called ``name``, or 0.
        A workload that sets up several times reports the median."""
        xs = [s.end - s.start for s in self.spans[:self._setup_end]
              if s.name == name and s.op is None]
        return statistics.median(xs) if xs else 0.0

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self=st[s.id]) for s in self.spans], f
            )

    def per_call_ms(self) -> dict[str, list[float]]:
        """Span name -> durations (ms) of its calls inside timed ops."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s.op is not None:
                out.setdefault(s.name, []).append((s.end - s.start) * 1000.0)
        return out

    def self_time_by_name(self) -> dict[str, float]:
        """Total self time (s) per span name, over timed ops."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op is not None:
                out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name, self.sid = tracer, name, None

    def __enter__(self):
        if self.t.enabled:
            self.sid = self.t._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.t._close(self.sid)
        return False


class SparkCounter:
    """Spark jobs / stages / tasks per op, read through a job group.

    The session retains only the last 100 jobs and stages, so each op's
    counts are read right after the op, before the next one starts.
    Disabled (no job groups set, nothing read) when tracing is off."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.n = 0
        self.per_kind: dict[str, list[tuple[int, int, int]]] = {}

    def begin(self) -> str | None:
        if not self.enabled:
            return None
        self.n += 1
        group = f"perfbench-op-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str | None, kind: str) -> None:
        if group is None:
            return
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        self.per_kind.setdefault(kind, []).append((len(jobs), len(stages), tasks))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
