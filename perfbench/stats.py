"""Summary statistics used by the benchmark and its checks."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """(1-based nearest rank, percentile) of the highest nearest-rank
    percentile that leaves at least ``beyond`` of ``n`` samples above
    it, or None when ``n`` is too small for any.

    The nearest-rank ``p``-th percentile of ``n`` samples is the
    ``ceil(p/100 * n)``-th smallest; rank ``r`` leaves ``n - r`` above
    it, so the highest admissible rank is ``n - beyond`` and the
    highest percentile that still maps to it is ``100 * r / n``."""
    r = n - beyond
    if r < 1:
        return None
    return r, 100.0 * r / n


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(value, percentile) of the tail percentile of ``xs``, or None."""
    tr = tail_rank(len(xs), beyond)
    if tr is None:
        return None
    r, pct = tr
    return sorted(xs)[r - 1], pct


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
