"""Summary statistics shared by the workloads and the report.

Pure Python, no Spark: the unit tests exercise these directly.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence


def percentile(samples: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule), ``0 <= p <= 100``."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: Sequence[float]) -> float:
    return percentile(samples, 50)


def beyond(samples: Sequence[float], p: float) -> int:
    """How many samples lie strictly above the ``p``-th percentile."""
    cut = percentile(samples, p)
    return sum(1 for x in samples if x > cut)


#: Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, min_beyond: int = 10) -> "float | None":
    """Highest percentile in ``TAIL_PERCENTILES`` that leaves at least
    ``min_beyond`` of ``n`` samples above it, or None when even the median
    does not.  A p90 is trustworthy from 100 samples on, a p99 from 1000."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def ratio(num: float, den: float) -> float:
    """``num / den`` that refuses a zero base instead of returning inf."""
    if den == 0:
        raise ZeroDivisionError("ratio with a zero base")
    return num / den


def busy_ratio(busy_s: Iterable[float], wall_s: float, slots: int) -> float:
    """Share of ``slots`` parallel workers' capacity spent busy over ``wall_s``."""
    return ratio(sum(busy_s), wall_s * slots)


def union_length(intervals: Iterable["tuple[float, float]"]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi < lo:
            raise ValueError(f"interval ends before it starts: {(lo, hi)}")
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped(intervals: Iterable["tuple[float, float]"], lo: float, hi: float):
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out
