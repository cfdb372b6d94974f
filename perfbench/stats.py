"""Order statistics used for every reported timing."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def slowest_fifth_median(values) -> float:
    """Median of the slowest fifth of ``values`` (at least one value)."""
    k = max(1, math.ceil(len(values) / 5))
    return median(sorted(values)[-k:])
