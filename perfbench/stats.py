"""Small numeric helpers shared by the runner and the steadiness check."""

from __future__ import annotations

import statistics


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values: list[float]) -> dict:
    """Median, quartiles and (Q3 - Q1) / median, with the quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }


def worse_by(first: float, second: float, better: str) -> float:
    """How much `second` is worse than `first`, as a share of `first`
    (negative when it is better)."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    change = (second - first) / abs(first)
    return change if better == "lower" else -change
