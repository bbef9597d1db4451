"""Spans around the benchmark's calls into the program, and their self time.

A span records one call across a layer boundary: its name (the layer),
start, end, the span that caused it, and the operation it belongs to
(a query, or a month of the FIC load). Spans are kept in memory and
written out once, when the run ends.

When the tracer holds a SparkContext, each span with an operation id
becomes the context's job group while it is open, so every Spark job the
call starts can be attached to it afterwards from the event log.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    op: str | None
    start: float
    end: float
    parent: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` times nothing and sets no job group."""

    def __init__(self, sc=None, enabled: bool = True, prefix: str = "s"):
        self.sc = sc
        self.enabled = enabled
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op = op if op is not None else (parent.op if parent else None)
        sp = Span(f"{self.prefix}{len(self.spans)}", name, op, time.perf_counter(), 0.0,
                  parent.id if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, f"{op or '-'}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"{parent.op or '-'}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part of it its children cover.

    Children are clipped to their parent's interval and overlapping
    children are counted once, so self time is never negative.
    """
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def by_layer(spans: list[Span]) -> dict[str, dict]:
    """Layer name -> {"n": spans, "total_s": summed duration, "self_s": summed self time}."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
        d["n"] += 1
        d["total_s"] += s.duration
        d["self_s"] += selfs[s.id]
    return out
