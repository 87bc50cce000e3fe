"""Small statistics helpers shared by the runner and the steadiness
report."""

from __future__ import annotations

import math
import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: (value, percentile, n). With n sorted samples that is the
    (n - beyond)-th smallest, the percentile 100 * (n - beyond) / n.
    None when there are too few samples for any such percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    rank = n - beyond  # 1-based rank with exactly `beyond` samples above
    return ordered[rank - 1], 100.0 * rank / n, n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median_by_kind(samples: list[tuple[str, float]]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for kind, v in samples:
        by.setdefault(kind, []).append(v)
    return {k: statistics.median(v) for k, v in by.items()}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
