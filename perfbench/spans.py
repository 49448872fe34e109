"""Span tracer for the traced run.

The tracer wraps public functions of the engine's modules (layers) from
the benchmark's side: each call becomes a span (name, start, end,
parent) that also records how many Spark jobs were launched while it
was open. Spans stay in memory and are written out once, at the end.

Spark's foreachBatch bodies run on a callback thread while the caller
blocks in ``awaitTermination``, so the open-span stack is one
process-wide stack under a lock rather than a per-thread one.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    jobs: int = 0

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, int]] = []
        self._lock = threading.RLock()
        self._patches: list[tuple[object, str, object]] = []
        self._named_open: dict[str, Span] = {}
        # time spent recording spans, outside the wrapped calls
        self.bookkeeping_s = 0.0
        # counters a layer reports besides its spans, set by the wrappers
        # and by the workload (e.g. rows in a store after a build)
        self.counts: dict[str, float] = {}

    def jobs_started(self) -> int:
        """Spark jobs submitted so far in this application (the DAG
        scheduler's next job id)."""
        return int(self._jsc.sc().dagScheduler().nextJobId())

    # -- spans -------------------------------------------------------------

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        with self._lock:
            parent = self._stack[-1][0].id if self._stack else None
            jobs = self.jobs_started()
            s = Span(len(self.spans), name, parent, time.perf_counter())
            self.spans.append(s)
            self._stack.append((s, jobs))
            self.bookkeeping_s += s.start - t0
            return s

    def close(self, s: Span) -> None:
        with self._lock:
            end = time.perf_counter()
            jobs = self.jobs_started()
            s.end = end
            for i in range(len(self._stack) - 1, -1, -1):
                if self._stack[i][0] is s:
                    s.jobs = jobs - self._stack[i][1]
                    # children left open by an exception close with it
                    for child, j0 in self._stack[i + 1:]:
                        child.end, child.jobs = s.end, jobs - j0
                    del self._stack[i:]
                    break
            self.bookkeeping_s += time.perf_counter() - end

    def current_name(self) -> str | None:
        with self._lock:
            return self._stack[-1][0].name if self._stack else None

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def open_window(self, name: str) -> None:
        """A span that one wrapped call opens and another closes (for a
        loop body of the engine that is not a function of its own)."""
        self.close_window(name)
        self._named_open[name] = self.open(name)

    def close_window(self, name: str) -> None:
        s = self._named_open.pop(name, None)
        if s is not None:
            self.close(s)

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``name`` is the span
        name, or a function of no arguments giving it at call time.
        ``before(args, kwargs)`` runs ahead of the span, ``after(span,
        result, args, kwargs)`` once it is closed."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                self._hook(before, args, kwargs)
            s = self.open(name() if callable(name) else name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(s)
            if after is not None:
                self._hook(after, s, result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    def _hook(self, fn, *args) -> None:
        """Run a wrapper's hook and count all of its time as bookkeeping
        (once, also when the hook opens or closes a span)."""
        b0, t0 = self.bookkeeping_s, time.perf_counter()
        fn(*args)
        self.bookkeeping_s = b0 + time.perf_counter() - t0

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        for name in list(self._named_open):
            self.close_window(name)

    # -- reporting ---------------------------------------------------------

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (c.start, c.end or c.start) for c in self.spans if c.parent == s.id
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, s.start), min(hi, s.end or s.start)
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
        return s.dur - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def jobs(self, name: str) -> int:
        return sum(s.jobs for s in self.named(name))

    def summary(self) -> dict:
        """Per span name: calls, total, self time and Spark jobs."""
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            d["calls"] += 1
            d["total_s"] += s.dur
            d["self_s"] += self.self_time(s)
            d["jobs"] += s.jobs
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        doc = dict(extra)
        doc["by_name"] = self.summary()
        doc["spans"] = [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start_s": s.start - t0, "end_s": (s.end or s.start) - t0,
                "self_s": self.self_time(s), "jobs": s.jobs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
