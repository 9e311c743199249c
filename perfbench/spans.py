"""Benchmark-side spans: name, start, end, parent and step id.

Spans are kept in memory and written out when the run ends.  Spark jobs
parsed from the event log are attached afterwards as child spans of the
innermost benchmark span that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    step: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans.  Each thread nests its own spans; a span opened
    on a thread with nothing open (a streaming foreachBatch callback) is
    parented to the innermost span open on the thread that created the
    tracer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = True  # wrapped calls record spans only while set
        self._local = threading.local()
        self._main = self._stack()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, step: str | None = None, **attrs):
        stack = self._stack()
        outer = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=outer.sid if outer else None,
                      step=step if step is not None else (outer.step if outer else None),
                      attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, name: str, fn):
        """`fn` with every call made while `active` recorded as a span
        called `name`."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def add_jobs(self, jobs) -> None:
        """Attach Spark jobs (eventlog.Job) as `spark.job` spans under the
        innermost span open at their submission time."""
        closed = [s for s in self.spans if s.end is not None]
        depth: dict[int, int] = {}
        for s in self.spans:  # parents precede children in the list
            depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
        for job in sorted(jobs, key=lambda j: j.start_ms):
            t0 = job.start_ms / 1000.0
            t1 = (job.end_ms if job.end_ms is not None else job.start_ms) / 1000.0
            holders = [s for s in closed if s.start <= t0 <= s.end]
            parent = max(holders, key=lambda s: (depth[s.sid], s.start)) if holders else None
            self.spans.append(Span(
                len(self.spans), "spark.job", t0, t1,
                parent=parent.sid if parent else None,
                step=parent.step if parent else None,
                attrs={"job_id": job.job_id, "description": job.description},
            ))

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover.

        Each instant is counted once: a child is clipped to its parent, and
        where siblings overlap (AQE runs some Spark jobs concurrently) the
        overlap goes to the sibling that started first.  So the self times
        of a tree sum to its root's duration."""
        kids = self.children()
        out: dict[int, float] = {}

        def visit(s: Span, lo: float, hi: float) -> None:
            cursor, busy = lo, 0.0
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                c_lo = max(c.start, cursor)
                c_hi = max(c_lo, min(c.end if c.end is not None else c.start, hi))
                visit(c, c_lo, c_hi)
                busy += c_hi - c_lo
                cursor = max(cursor, c_hi)
            out[s.sid] = (hi - lo) - busy

        for root in kids.get(None, []):
            visit(root, root.start, root.end if root.end is not None else root.start)
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered(start: float, end: float | None, spans: list[Span]) -> float:
    """Length of [start, end] covered by the union of `spans`."""
    if end is None:
        return 0.0
    return union_length([
        (max(start, s.start), min(end, s.end)) for s in spans
        if s.end is not None and s.end > start and s.start < end
    ])
