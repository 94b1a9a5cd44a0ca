"""Spans around calls into the program's layers, recorded from outside it.

`Tracer.wrap(owner, attr, name)` replaces a public function at the name its
callers look it up by (a module attribute, or a method on a class) with a
wrapper that records a span while tracing is on. Spans stay in memory as
(name, start, end, parent, op) rows; `self_times` subtracts from each span
the part of its interval that its children cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from typing import Callable, NamedTuple


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: int  # index into the span list, -1 for an op's root
    op: int


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self.counts: dict[tuple[int, str], int] = defaultdict(int)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, self.clock(), 0.0, parent, self.op))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx] = self.spans[idx]._replace(end=self.clock())

    def count(self, key: str) -> None:
        if self.active:
            self.counts[(self.op, key)] += 1

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """Run fn inside a span when tracing is on, plainly otherwise."""
        if not self.active:
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    # -- patching ----------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer.call(name, orig, *args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def per_op(spans: list[Span]) -> dict[int, dict[str, dict[str, float]]]:
    """op -> span name -> {"total": s, "self": s, "outer": s, "n": calls}.

    "outer" sums only spans with no ancestor of the same name, so a
    recursive call is not counted twice in a layer's wall time.
    """
    selfs = self_times(spans)
    out: dict[int, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: {"total": 0.0, "self": 0.0, "outer": 0.0, "n": 0})
    )
    for i, s in enumerate(spans):
        rec = out[s.op][s.name]
        dur = s.end - s.start
        rec["total"] += dur
        rec["self"] += selfs[i]
        rec["n"] += 1
        p = s.parent
        while p >= 0 and spans[p].name != s.name:
            p = spans[p].parent
        if p < 0:
            rec["outer"] += dur
    return out
