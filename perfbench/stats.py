"""Summary statistics shared by the workloads."""

from __future__ import annotations

import statistics


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values)


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
