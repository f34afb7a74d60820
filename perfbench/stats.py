"""Summary statistics shared by the benchmark and its A/A check."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile of ``samples`` that has at least ``beyond``
    samples above it, as ``(percentile, value)``.

    The value is the ``beyond + 1``-th largest sample and the percentile is
    the share of samples at or below it.  Returns ``None`` when there are
    fewer than ``2 * beyond`` samples, where that percentile would fall
    below the median and say nothing about a tail.
    """
    n = len(samples)
    if n < 2 * beyond:
        return None
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, sorted(samples)[k]


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
