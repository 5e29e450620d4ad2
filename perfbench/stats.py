"""Order statistics used by the benchmark report."""

from __future__ import annotations

import math
import statistics

# The tail percentile reported for every workload (nearest rank).
TAIL_PCT = 90.0


def rank_percentile(values: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: the value at rank ceil(p/100 * n) of the
    sorted sample, and how many samples lie beyond that rank."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    n = len(ordered)
    rank = max(1, math.ceil(p / 100.0 * n))
    return ordered[rank - 1], n - rank


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples_beyond)`` at ``TAIL_PCT``.

    The percentile is fixed rather than chosen per run as the highest one
    with ten samples beyond it: a choice that depends on the run's count
    flips between percentiles when the count crosses a threshold (100 or
    200 reads), which moves the metric by more than any bound. The report
    states how many samples lie beyond it.
    """
    value, beyond = rank_percentile(values, TAIL_PCT)
    return value, TAIL_PCT, beyond


def median(values: list[float]) -> float:
    return statistics.median(values)


def shape_median(groups: dict[str, list[float]]) -> float:
    """Geometric mean over operation shapes of each shape's median. Every
    shape weighs the same, so the figure does not move with how many of
    each shape a time-bounded run happened to complete."""
    medians = [median(v) for v in groups.values() if v]
    return math.exp(sum(math.log(m) for m in medians) / len(medians))

