"""Spans recorded around calls into pcd_spark, and the benchmark's own
arithmetic: self time, the tail-percentile rule, quartiles and the paper's
edges-per-second metric.

Nothing here imports Spark, so the arithmetic is unit-tested on its own
(perfbench/test_tracing.py).
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    pass_id: str
    #: time a callee reported about its own inner phases (e.g. the
    #: superstep seconds in ``stats_out["step_secs"]``), billed to those
    #: layers instead of to this span's self time: {span name: seconds}
    attributed: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def layer_of(name: str) -> str:
    """``graph.pagerank`` and ``graph.superstep`` are layers of their own;
    every other span belongs to its first dotted component
    (``storage.checkpoint`` -> ``storage``)."""
    parts = name.split(".")
    return ".".join(parts[:2]) if parts[0] == "graph" else parts[0]


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and
    costs two generator steps, so untraced passes measure the program alone.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.pass_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def of_pass(self, pass_id: str) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its child spans, minus the time it attributes to
    inner layers; attributed time is billed to the layer it names."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        inner = sum(s.attributed.values())
        out[layer_of(s.name)] += s.dur - union_length(children[i], s.start, s.end) - inner
        for name, secs in s.attributed.items():
            out[layer_of(name)] += secs
    return dict(out)


def percentile(values: list[float], p: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank p-th percentile (0 < p < 1), or None unless at least
    `min_beyond` samples rank above it: p90 needs 100 samples, p50 needs 20.
    """
    n = len(values)
    if n == 0:
        return None
    k = max(0, math.ceil(p * n) - 1)
    if n - 1 - k < min_beyond:
        return None
    return sorted(values)[k]


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest nearest-rank percentile with at least `min_beyond`
    samples above it, as (p, value); None with too few samples."""
    n = len(values)
    if n <= min_beyond:
        return None
    k = n - 1 - min_beyond
    return (k + 1) / n, sorted(values)[k]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def edges_per_s(calls: list[tuple[int, list[float]]]) -> float:
    """The paper metric over one pass: sum(edge traversals per superstep x
    supersteps) / sum(superstep seconds), over every PageRank and LPA call.
    `calls` holds (traversals per superstep, that call's step seconds)."""
    work = sum(t * len(steps) for t, steps in calls)
    secs = sum(sum(steps) for _, steps in calls)
    if secs <= 0:
        raise ValueError("edges_per_s: no superstep time recorded")
    return work / secs
