"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def min_samples_for(pct: float) -> int:
    """Fewest samples for which at least ten lie beyond the ``pct``
    percentile (ten beyond p90 needs 100 samples)."""
    return math.ceil(10 / (1 - pct / 100) - 1e-9)


def percentile(values, pct: float) -> float | None:
    """The ``pct`` percentile (nearest rank), or None when fewer than
    ten samples lie beyond it: a p90 over a handful of samples is just
    the maximum."""
    values = sorted(values)
    if len(values) < min_samples_for(pct):
        return None
    rank = max(1, math.ceil(pct / 100 * len(values)))
    return float(values[rank - 1])
