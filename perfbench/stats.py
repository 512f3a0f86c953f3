"""Order statistics and ratio formatting used by every workload.

Kept free of Spark imports so the arithmetic is unit-testable on its own
(``python -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict | None:
    """The highest percentile that still has ``min_beyond`` samples above it.

    With ``n`` sorted samples the value at 1-based rank ``r`` has ``n - r``
    samples beyond it, so the highest usable rank is ``n - min_beyond``
    and its percentile is ``100 * r / n``. Returns ``{"value", "pct",
    "n"}``, or None when that percentile would sit below the median
    (fewer than ``2 * min_beyond`` samples): a "tail" under p50 says
    nothing about the tail.
    """
    n = len(values)
    rank = n - min_beyond
    if rank < 1 or 2 * rank < n:
        return None
    ordered = sorted(values)
    return {"value": float(ordered[rank - 1]), "pct": 100.0 * rank / n, "n": n}


def ratio(numerator: float, base: float) -> dict:
    """A ratio always travels with its base, so a reader can tell a
    ratio of 1.0 over 10 rows from one over 10 million."""
    return {
        "value": numerator / base if base else 0.0,
        "numerator": numerator,
        "base": base,
    }


def union_length(intervals: Sequence[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to ``[lo, hi]``.
    Overlapping intervals are counted once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
