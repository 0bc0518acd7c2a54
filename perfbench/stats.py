"""Pure helpers for summarising timings and spans (no Spark imports)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable


def median(values: Iterable[float]) -> float:
    """Median of ``values``; 0 when there are none (a layer the
    workload does not use)."""
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(lo: float, hi: float,
              children: Iterable[tuple[float, float]]) -> float:
    """Time in ``[lo, hi]`` not covered by any child interval."""
    return (hi - lo) - union_length(children, lo, hi)
