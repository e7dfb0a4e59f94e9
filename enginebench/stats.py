"""Summary rules shared by every workload."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile p (50..99) with at least ``min_beyond``
    of ``n`` samples strictly beyond it, i.e. n * (100 - p) / 100 >=
    min_beyond; None when not even p50 qualifies."""
    for p in range(99, 49, -1):
        if n * (100 - p) >= min_beyond * 100:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return float(xs[int(rank) - 1])


def tail(values: list[float]) -> tuple[int | None, float | None]:
    """(p, value) for the highest percentile with >= 10 samples beyond
    it, or (None, None) when there are too few samples."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the steadiness rule for an end-to-end metric."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
