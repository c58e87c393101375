"""In-memory spans and per-layer self time.

A span is one interval at a layer boundary: the run, set-up and its
parts, and per operation its build, execute and release phases, with
Spark jobs and streaming micro-batches as children. Spans are kept in
memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # wall-clock epoch seconds, comparable with Spark's event times
    end: float
    parent: int | None = None
    op: int | None = None


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, op: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    def open(self, name: str, parent: int | None = None, op: int | None = None) -> int:
        now = time.time()
        return self.add(name, now, now, parent, op)

    def close(self, sid: int) -> float:
        """End span ``sid`` now; returns its duration in seconds."""
        span = self.spans[sid]
        span.end = time.time()
        return span.end - span.start

    def adopt(self, name: str, start: float, end: float, within: tuple[str, ...]) -> int:
        """Add a span observed from outside (a Spark job or micro-batch)
        under the innermost recorded span whose interval holds its start.
        With one client, that is the operation that caused it."""
        best = None
        for s in self.spans:
            if s.name in within and s.start <= start <= s.end:
                if best is None or s.end - s.start < best.end - best.start:
                    best = s
        if best is None:
            return self.add(name, start, end)
        return self.add(name, start, end, best.id, best.op)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += (s.end - s.start) - _covered(kids[s.id], s.start, s.end)
    return dict(out)
