"""Small statistics used by the runner and the pair-comparison tool."""

from __future__ import annotations

import math
import statistics

# Tail percentiles the benchmark may report, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the ``pct`` percentile."""
    return int(math.floor(n * (100 - pct) / 100.0 + 1e-9))


def tail_percentile(n: int) -> int | None:
    """The highest reportable percentile for ``n`` samples: the one with at
    least ten samples beyond it. None when even the median has fewer."""
    for pct in TAIL_PERCENTILES:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median (0 when the median is 0)."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0
