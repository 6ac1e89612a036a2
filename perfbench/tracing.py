"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent and the run's trace id. While a
span is open, Spark jobs submitted from the calling thread carry the span id
as their job group, so the event-log reader can charge task counters to the
innermost span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    trace_id: str
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.monotonic()) - self.start


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) scopes Spark jobs to spans."""

    def __init__(self, trace_id: str, sc=None):
        self.trace_id = trace_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.trace_id}.{next(self._ids)}",
            name=name,
            parent=parent.id if parent else None,
            trace_id=self.trace_id,
            start=time.monotonic(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def by_name(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def descendants(self, span_id: str) -> list[Span]:
        """``span_id`` and every span below it."""
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.extend(s for s in self.spans if s.id == sid)
            todo.extend(s.id for s in self.spans if s.parent == sid)
        return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of its interval its children cover."""
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cursor = 0.0, s.start
        kids = sorted((c for c in spans if c.parent == s.id), key=lambda c: c.start)
        for c in kids:
            lo = max(c.start, cursor)
            hi = min(c.end if c.end is not None else c.start, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (end - s.start) - covered
    return out
