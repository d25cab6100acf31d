"""Spans recorded around calls into the package's public functions.

The tracer wraps functions from the benchmark's side only; nothing inside
the package changes. Every wrapped call

* records a span (name, start, end, parent) kept in memory, and
* runs under a Spark job group named after the span, restored on exit, so
  the Spark event log attributes executor time and bytes to the innermost
  layer that submitted the job.

Parents come from a per-thread stack. Work that crosses threads links
explicitly: the streaming source invokes ``foreachBatch`` on another
thread (:meth:`Tracer.adopt`), and HTTP handler threads read the client's
span id from a request header (:data:`PARENT_HEADER`).
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PARENT_HEADER = "X-Perfbench-Parent"
GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    error: bool = False


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._adopted: int | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- span stack ------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else self._adopted

    def adopt(self, sid: int | None) -> None:
        """Spans opened on threads with an empty stack (a streaming
        ``foreachBatch`` callback) become children of ``sid``."""
        self._adopted = sid

    def push_parent(self, sid: int | None) -> None:
        self._stack().append(sid)

    def pop_parent(self) -> None:
        self._stack().pop()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, by: float = 1) -> None:
        with self._lock:
            self.counters[name] += by

    # -- wrapping --------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced version until :meth:`unwrap`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- aggregation -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """name -> {calls, wall_s, self_s}."""
        selfs = self.self_times()
        agg: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "wall_s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            a = agg[s.name]
            a["calls"] += 1
            a["wall_s"] += s.end - s.start
            a["self_s"] += selfs[s.sid]
        return dict(agg)


class _SpanCtx:
    __slots__ = ("t", "name", "span", "prev_group")

    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.t
        sid = next(t._ids)
        self.span = Span(sid, self.name, t.current(), 0.0)
        if t.sc is not None:
            self.prev_group = t.sc.getLocalProperty(GROUP_PROP)
            t.sc.setLocalProperty(GROUP_PROP, self.name)
        t._stack().append(sid)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        t = self.t
        self.span.end = time.perf_counter()
        self.span.error = exc_type is not None
        if exc_type is not None:
            t.count(f"error.{exc_type.__name__}")
        t._stack().pop()
        if t.sc is not None:
            t.sc.setLocalProperty(GROUP_PROP, self.prev_group)
        with t._lock:
            t.spans.append(self.span)


def span_cost_s(tracer: Tracer, n: int = 200) -> float:
    """Measured cost of one traced call (span bookkeeping plus the job-group
    round trips to the JVM), from ``n`` empty spans. The spans are
    discarded."""
    keep = len(tracer.spans)
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("trace.calibration"):
            pass
    cost = (time.perf_counter() - t0) / n
    del tracer.spans[keep:]
    return cost
