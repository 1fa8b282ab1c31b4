"""Order statistics the benchmark reports.

Quantiles are nearest-rank, so every reported value is one that was
observed; the spread is the quartile distance the benchmark's own bounds
are written against.
"""

from __future__ import annotations

import math
import statistics


def quantile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile: the smallest sample with at least
    ``q * n`` samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def tail_quantile(n: int) -> float | None:
    """The highest of p99 / p90 / p75 that leaves at least ten samples
    beyond it among ``n``, or ``None`` when none does."""
    for q in (0.99, 0.9, 0.75):
        if n - math.ceil(q * n) >= 10:
            return q
    return None


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles :func:`statistics.quantiles` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
