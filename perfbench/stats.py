"""Order statistics for the benchmark's latency samples.

A tail is only as good as the samples beyond it: ``percentile`` refuses a
percentile that leaves fewer than ``MIN_BEYOND`` samples above it, and
``tail_percentile`` picks the highest whole percentile a sample of a given
size supports. Both p50 and the tail come from the same sorted sample, so
the tail can never read below the median.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> float:
    return n * (100.0 - q) / 100.0


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile >= 50 with ``min_beyond`` of ``n``
    samples beyond it."""
    q = math.floor(100.0 * (1.0 - min_beyond / n)) if n else 0
    if q < 50:
        raise ValueError(f"{n} samples cannot support a tail with {min_beyond} beyond it")
    return min(q, 99)


def percentile(sample, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-th percentile of ``sample``; refuses a ``q``
    with fewer than ``min_beyond`` samples beyond it."""
    n = len(sample)
    if q > 50 and samples_beyond(n, q) < min_beyond:
        raise ValueError(
            f"p{q} of {n} samples has {samples_beyond(n, q):.1f} beyond it; "
            f"need {min_beyond}"
        )
    ordered = sorted(sample)
    return ordered[max(0, math.ceil(q / 100.0 * n) - 1)]
