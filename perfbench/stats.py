"""Summary statistics for the benchmark's samples.

The median and the tail come from the same samples with the same
nearest-rank estimator, so the tail can never read below the median.
"""

from __future__ import annotations

import math
import re

# samples that must lie strictly beyond a reported tail percentile
TAIL_BEYOND = 10
# the fewest samples for which that tail is at or above the median
MIN_TAIL_SAMPLES = 2 * TAIL_BEYOND

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def nearest_rank(sorted_xs: list[float], q: float) -> float:
    """The q-th percentile (0 < q <= 100) by the nearest-rank rule."""
    return sorted_xs[max(math.ceil(q / 100 * len(sorted_xs)), 1) - 1]


def p50(xs: list[float]) -> float:
    return nearest_rank(sorted(xs), 50)


def tail(xs: list[float]) -> tuple[int, float, int]:
    """The highest whole percentile with at least ``TAIL_BEYOND``
    samples strictly above its rank: ``(percentile, value, beyond)``.
    With fewer than ``MIN_TAIL_SAMPLES`` samples no percentile at or
    above 50 qualifies, and the median is returned as the tail."""
    s = sorted(xs)
    n = len(s)
    q = max(50, 100 * (n - TAIL_BEYOND) // n)
    rank = max(math.ceil(q / 100 * n), 1)
    return q, s[rank - 1], n - rank
