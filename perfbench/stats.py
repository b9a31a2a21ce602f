"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least `beyond` samples
    above it, as (percentile, value); None with too few samples.

    With n samples sorted ascending, the k = n - beyond smallest are at
    or below the answer and the `beyond` largest lie beyond it, so the
    value is the k-th smallest sample and its percentile is 100 k / n
    (nearest rank)."""
    k = len(values) - beyond
    if k < 1:
        return None
    return 100.0 * k / len(values), sorted(values)[k - 1]
