"""In-memory spans for the traced run, and their self-time arithmetic.

A span has a kind (its layer boundary, e.g. ``query`` or ``add_batch``),
a name, a start and end in seconds, and the index of the span that caused
it.  All spans of one run share the recorder's run id.  A span's self
time is its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    kind: str
    name: str
    start: float
    end: float
    parent: int | None


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, kind: str, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(Span(kind, name, start, end, parent))
        return len(self.spans) - 1

    @contextmanager
    def span(self, kind: str, name: str, parent: int | None):
        """Time the body as one span; yields the span's index so the
        body can attach children."""
        i = self.add(kind, name, time.time(), 0.0, parent)
        try:
            yield i
        finally:
            self.spans[i].end = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"run": self.run_id, "span": i, **asdict(s)}) + "\n")


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span, in the order given."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(s.start, s.end, children.get(i, []))
        for i, s in enumerate(spans)
    ]


def self_time_by_kind(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.kind] = out.get(s.kind, 0.0) + t
    return out
