"""Span recording and the summary statistics the benchmark reports.

A span is one timed call at a layer boundary: its name, start and end
(``time.monotonic`` seconds, comparable across the benchmark's
processes on one host), the span that was open on the same thread when
it began, and a tag (a batch id, or a query key and round). Spans are
kept in memory and written out once, when the process ends.

Only the benchmark's own wrappers create spans: ``Recorder.wrap``
replaces a public function of the program by a timing shim. Functions
called once per message are not wrapped: a shim per call would cost more
than the work it times.
"""

from __future__ import annotations

import functools
import json
import math
import threading
import time
from dataclasses import dataclass, field

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) of ``values`` by linear
    interpolation, or None when fewer than ``MIN_BEYOND`` samples lie
    beyond it, so that a tail is never read off a handful of samples."""
    if not 0 < q < 100:
        raise ValueError(f"percentile q must lie in (0, 100), got {q}")
    n = len(values)
    if n == 0 or n * (100 - q) / 100 < MIN_BEYOND:
        return None
    ordered = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def median(values: list[float]) -> float | None:
    """Middle value (mean of the two middle ones for an even count)."""
    if not values:
        return None
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def geomean(values: list[float]) -> float | None:
    """Geometric mean of positive ``values``: every operation counts by
    its ratio, so a fast operation's gain is not drowned by slow ones,
    and a shift in the share of fast and slow samples moves the result
    smoothly instead of flipping it between modes as a median does."""
    if not values:
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    tag: str = ""
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus
    the part of its interval that its child spans cover, clipped to the
    parent's interval and with overlapping children counted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + s.duration - _covered(kids)
    return out


class Recorder:
    """In-memory span store. ``enabled=False`` makes every method a
    no-op, so the untraced run pays nothing beyond an attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, tag: str = "") -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        span = Span(sid, name, time.monotonic(), 0.0, stack[-1].sid if stack else None, tag)
        stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.monotonic()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, tag_of=None, count_of=None) -> None:
        """Replace ``owner.attr`` by a shim that records a span named
        ``name`` around every call; ``tag_of(args, kwargs)`` gives the
        span's tag and ``count_of(result)`` its ``n`` count."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def shim(*args, **kwargs):
            span = self.begin(name, tag_of(args, kwargs) if tag_of else "")
            try:
                result = inner(*args, **kwargs)
            finally:
                self.end(span)
            if count_of is not None:
                span.counts["n"] = count_of(result)
            return result

        setattr(owner, attr, shim)

    def named(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "tag": s.tag,
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )
