"""In-memory spans for the traced run.

A span records one call into a layer: its name, start, end, parent
span and the operation it belongs to. Spans are kept in a list and
written once when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its children cover. Children
    may overlap one another (writes submitted from a thread pool), so
    the covered time is the union of their intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered(children.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so the layer
    wrappers can stay installed for the untraced passes of a traced
    run. Spans opened on the thread that created the tracer nest; a
    span opened on any other thread (a pool thread inside a layer) is
    parented to the innermost span open on the creating thread."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.op: str | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._owner = threading.get_ident()

    def count_py4j(self) -> None:
        if self.active:
            with self._lock:
                self.py4j_calls += 1

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        on_owner = threading.get_ident() == self._owner
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            span = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
            self.spans.append(span)
            if on_owner:
                self._stack.append(sid)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            if on_owner:
                with self._lock:
                    self._stack.pop()

    def as_records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [dict(asdict(s), self=selfs[s.id]) for s in self.spans]
