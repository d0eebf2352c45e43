"""Benchmark arithmetic: spans, self time, medians and the tail rule.

Spans live in memory (:class:`Tracer`) and are written once, when the
traced run ends.  Nothing here imports Spark or the program under test,
so the unit tests in ``test_perfbench.py`` run in milliseconds.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager

# Candidate percentiles for a timing's tail, highest last.
TAIL_PERCENTILES = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


class Tracer:
    """In-memory span recorder.  A span is ``[id, name, start, end,
    parent_id, trace_id]`` with ``perf_counter`` times; the parent is the
    innermost span open when it began."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        rec = [sid, name, time.perf_counter(), None, parent, trace_id]
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[int, float]:
        """Per span id: duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for _sid, _name, s, e, parent, _tid in self.spans:
            if parent is not None:
                kids.setdefault(parent, []).append((s, e))
        return {
            sid: self_time(s, e, kids.get(sid, ()))
            for sid, _name, s, e, _p, _tid in self.spans
        }

    def total_self(self, name: str) -> float:
        st = self.self_times()
        return sum(st[rec[0]] for rec in self.spans if rec[1] == name)

    def write(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "trace_id")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, rec)) for rec in self.spans], f)


def self_time(start: float, end: float, children) -> float:
    """``end - start`` minus the union of the child intervals clipped to
    ``[start, end]`` (overlapping children are counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def ladder_self(rungs: dict[str, float], order: list[tuple[str, str | None]]) -> dict[str, float]:
    """Self time of each rung of a cumulative ladder: the rung's time
    minus the rung below it (``None`` for the bottom rung)."""
    return {
        name: rungs[name] - (rungs[below] if below else 0.0)
        for name, below in order
    }


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the ``p``-th percentile among ``n``."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples ranked beyond it among ``n``; None when even the median has
    fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (an observed value, never interpolated)."""
    s = sorted(values)
    return s[min(len(s), _rank(p, len(s))) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)
