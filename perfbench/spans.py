"""Spans, self time and latency summaries for the benchmark.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the engine (``layer.function``), with its start, end, parent span
and run id, plus any counts attached to it.  Spans stay in memory and are
written out once, when the run ends.  With tracing off, :meth:`Tracer.span`
hands back one shared no-op span and records nothing.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def count(self, **kw) -> None:
        """Attach counts (summed per key) to the span."""
        for key, value in kw.items():
            self.counts[key] = self.counts.get(key, 0) + value


class _NullSpan:
    def count(self, **_kw) -> None:
        pass


_NULL = _NullSpan()


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent inside the tracer's own bookkeeping (span open/close
        # and whatever the benchmark charges via ``overhead()``)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NULL
            return
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, 0.0,
                  parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    @contextmanager
    def overhead(self):
        """Charge the enclosed block (extra tracing-only queries such as
        job/stage counters) to the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as handle:
            json.dump([asdict(s) for s in self.spans], handle)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlaps counted once)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[int, float] = {}
    for sp in spans:
        covered = 0.0
        cur_start = cur_end = None
        for ch in sorted(children.get(sp.span_id, ()), key=lambda c: c.start):
            s, e = max(ch.start, sp.start), min(ch.end, sp.end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sp.span_id] = (sp.end - sp.start) - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer (the span name's first component)."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.layer] = out.get(sp.layer, 0.0) + selfs[sp.span_id]
    return out


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else 0.5 * (vals[mid - 1] + vals[mid])


def tail_percentile(n: int, beyond: int = 10) -> int:
    """Highest whole percentile ``p`` that leaves at least ``beyond`` of
    ``n`` samples above it.  Below ``4 * beyond`` samples that percentile
    sits at or near the median, so the tail is the maximum (100)."""
    if n < 4 * beyond:
        return 100
    # percentile() interpolates at k = (n - 1) * p / 100; at least
    # ``beyond`` samples lie above it while k < n - beyond
    return (100 * (n - beyond) - 1) // (n - 1)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = (len(vals) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)


def tail(values) -> tuple[float, int, int]:
    """``(value, percentile, n)`` of the latency tail: the highest
    percentile with at least ten samples beyond it, or the maximum."""
    n = len(values)
    p = tail_percentile(n)
    return percentile(values, p), p, n
