"""Order statistics over per-operation latencies."""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10  # a reported percentile needs this many samples above it


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]), numpy's default."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q`` percentile's rank."""
    return n - math.ceil(round(q * n, 9))
