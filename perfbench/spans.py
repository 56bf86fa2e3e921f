"""Spans, layer wrappers and the statistics the benchmark reports.

A span records one call across a layer boundary: its name, start and
end (``time.perf_counter`` seconds), the index of the span that was
open when it started, and the operation it belongs to. Spans stay in
memory and are summarised after each traced pass.

Layers are traced from outside the engine: :func:`wrap` swaps a public
function of an engine module for a wrapper (built by :func:`spanning`)
that opens a span around each call, in every engine module that bound
the function.
"""

from __future__ import annotations

import functools
import math
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np

PACKAGE = "configdrivendatapipeline_spark"

#: Percentiles ``op_tail_s`` may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer records
    nothing, so wrapped layers cost one extra call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int | None, **attrs: Any) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        self._stack.pop()

    def span(self, name: str):
        return _SpanContext(self, name)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, None
        self.attrs: dict[str, Any] = {}

    def __enter__(self) -> "_SpanContext":
        self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.idx, **self.attrs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - union_length(children.get(i, [])) for i, s in enumerate(spans)]


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` with no ancestor of the same name, so a
    layer calling itself is not counted twice."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def tail_percentile(n: int) -> float | None:
    """Highest percentile of :data:`TAIL_LADDER` with at least ten of
    ``n`` samples above it (``None`` when ``n`` < 20)."""
    for p in TAIL_LADDER:
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # in tenths of a percent
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def wrap(fn: Callable, make: Callable[[Callable], Callable]) -> None:
    """Replace ``fn`` by ``make(fn)`` wherever an engine module bound it,
    so calls through ``from module import fn`` names are traced too."""
    wrapper = functools.wraps(fn)(make(fn))
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)


def spanning(
    tracer: Tracer,
    name: str,
    before: Callable[[], Any] | None = None,
    after: Callable[..., dict[str, Any]] | None = None,
):
    """Wrapper factory: a span named ``name`` around every call.
    ``before()`` runs as the span opens; ``after(args, kwargs, result,
    state)`` gets its return value as ``state`` and returns counts to
    attach to the span."""

    def make(fn: Callable) -> Callable:
        def call(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            attrs: dict[str, Any] = {}
            try:
                state = before() if before is not None else None
                out = fn(*args, **kwargs)
                if after is not None:
                    attrs = after(args, kwargs, out, state)
                return out
            finally:
                tracer.close(idx, **attrs)

        return call

    return make
