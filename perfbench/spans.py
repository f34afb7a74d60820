"""In-memory spans recorded at the benchmark's layer boundaries.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
id of the span that caused it, and free-form attributes.  Every span of a
run carries the run's id.  Spans stay in memory until the run ends; the
traced run writes them out and prints each layer's self time.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> dict:
        span = {"id": len(self.spans), "run_id": self.run_id, "name": name,
                "start": start, "end": end, "parent": parent, "attrs": attrs}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block, as a child of the innermost
        open span.  Yields the span so the block can add attributes."""
        parent = self._stack[-1] if self._stack else None
        span = self.add(name, time.perf_counter(), float("nan"), parent, **attrs)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children are clipped to their parent's interval and overlapping
    children are merged first, so covered time is never counted twice.
    """
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = duration(s) - covered
    return out


def subtree(spans: list[dict], root: int) -> list[dict]:
    """Span ``root`` and every span below it."""
    inside, out = {root}, []
    for s in spans:  # parents are always recorded before their children
        if s["id"] == root or s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: one line per layer."""
    names = {s["id"]: s["name"] for s in spans}
    totals: dict[str, float] = defaultdict(float)
    for span_id, t in self_times(spans).items():
        totals[names[span_id]] += t
    return dict(totals)
