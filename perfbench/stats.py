"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only with this many samples beyond it
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (nearest rank).  The median is reported
    from any non-empty sample; a higher percentile is None unless at
    least ``MIN_TAIL`` samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    if q == 50:
        return statistics.median(values)
    if n * (100 - q) / 100 < MIN_TAIL:
        return None
    rank = max(1, math.ceil(q / 100 * n))
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def self_time(span_start: float, span_end: float,
              children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that child spans cover
    (children may overlap each other or stick out of the parent)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, span_start), min(hi, span_end))
                         for lo, hi in children):
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
    return (span_end - span_start) - covered
