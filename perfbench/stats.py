"""Order statistics for the benchmark's reports.

``percentile`` refuses a tail it cannot support: a pNN is reported only
when at least ``MIN_BEYOND`` samples lie beyond it, so a p90 needs 100
samples and a p99 needs 1000.
"""

from __future__ import annotations

import math
import re
import statistics

MIN_BEYOND = 10
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class TooFewSamples(ValueError):
    """Raised for a percentile with fewer than MIN_BEYOND samples beyond it."""


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank ``pct`` percentile of ``values``.

    Raises TooFewSamples unless at least MIN_BEYOND samples lie strictly
    beyond the reported rank.
    """
    if not 0 < pct < 100:
        raise ValueError(f"percentile must be in (0, 100), got {pct}")
    n = len(values)
    rank = max(1, math.ceil(pct / 100 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{pct:g} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name
