"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import statistics

#: candidate tail percentiles, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100) of a
    non-empty sample, the same rule as numpy's default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile with at least `min_beyond` of `n` samples
    beyond it, or None when even the 75th has too few."""
    for q in _TAILS:
        # round away the binary error of 100 - 99.9
        if round(n * (100.0 - q) / 100.0, 9) >= min_beyond:
            return q
    return None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4)
    gives them -- the steadiness figure the bounds are checked
    against."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
