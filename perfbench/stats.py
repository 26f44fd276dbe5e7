"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the
    value is the eleventh largest, which ten samples exceed; its
    percentile is ``100 * (n - 10) / n``. With ten samples or fewer no
    percentile qualifies, so this raises instead of reporting a maximum
    as a tail."""
    n = len(values)
    if n <= 10:
        raise ValueError(f"a tail needs more than 10 samples, got {n}")
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
