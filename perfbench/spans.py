"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, trace id); spans nest through a
per-thread stack, so the pipeline's pool threads each get their own
parent chain. A layer's self time is its spans' durations minus the
part of each span that its direct children cover.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace: str = "", parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(len(self.spans), name, trace or (parent.trace if parent else ""),
                      parent.id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Span name -> summed self time over ``spans`` (default: all)."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out: dict[str, float] = {}
        for sp in spans:
            covered = union_length(
                [(max(s, sp.start), min(e, sp.end)) for s, e in children.get(sp.id, [])
                 if e > sp.start and s < sp.end]
            )
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - covered
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "trace": s.trace, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]
