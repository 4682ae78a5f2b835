"""Pure logic shared by the workloads: percentiles and open-loop schedule
accounting. No Spark imports, so the unit tests run without a JVM."""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10  # samples a tail percentile must leave above it


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean: each of a set of queries of very different cost
    weighs the same."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile with at least ``min_beyond`` of ``n``
    samples strictly above its rank, never below the median.

    With 100 samples that is p90; with 1000, p99; with fewer than
    ``2 * min_beyond`` samples the tail falls back to the median."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(n * p / 100.0) >= min_beyond:
            best = p
    return best


def tail(values: Sequence[float]) -> tuple[int, float]:
    """(percentile used, value) for the tail of ``values``."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def open_loop_schedule(t0: float, rate_per_s: float, count: int) -> list[float]:
    """Due times of ``count`` sends at a fixed rate starting at ``t0``."""
    return [t0 + i / rate_per_s for i in range(count)]


def lateness(due: Sequence[float], sent: Sequence[float]) -> list[float]:
    """How late the generator ran for each send (never negative)."""
    return [max(0.0, s - d) for d, s in zip(due, sent)]


def latency_from_due(due: Sequence[float], done: Sequence[float]) -> list[float]:
    """Open-loop latency: completion minus the time the input was *due*,
    not the time it was actually sent, so a stalled generator cannot
    hide the wait it imposes on later inputs."""
    return [d2 - d1 for d1, d2 in zip(due, done)]

