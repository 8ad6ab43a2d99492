"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

#: a tail percentile must leave at least this many samples above it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """(percentile, value): the highest whole percentile whose
    nearest-rank sample still has at least ``beyond`` samples after it.

    The nearest-rank value of percentile q over n sorted samples is the
    sample at 1-based rank ceil(q * n / 100). Returns None when fewer than
    ``beyond + 1`` samples exist, because then no percentile qualifies.
    """
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    for q in range(99, 0, -1):
        rank = max(1, math.ceil(q * n / 100))
        if n - rank >= beyond:
            return q, s[rank - 1]
    return None
