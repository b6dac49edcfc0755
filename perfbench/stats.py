"""Summary statistics for the benchmark: medians, the supported tail
percentile and failure accounting. Pure Python, no Spark.

Rules (see NOTES.md, "Reporting rules"):

* A timing is reported as its median and as the highest percentile that
  still has at least ``MIN_BEYOND`` samples beyond it, with the sample
  count.
* A failed operation has no latency: it is recorded as ``FAILED``
  (infinity), so it sorts above every success and counts as missing any
  latency limit.
* Every sample counts. There is no min-of-medians or "contended sample"
  discount: a slow pass is part of what a user sees.
"""

from __future__ import annotations

import math

#: Latency of an operation that failed or never completed.
FAILED = math.inf

#: A percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10

#: Stand-in printed for an infinite percentile (JSON has no infinity).
#: Any latency limit is far below it.
FAILED_PRINT = 1e9

#: Percentiles considered for the tail, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it. Infinite samples (failures)
    sort last."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(p, len(samples)) - 1]


def median(samples: list[float]) -> float:
    """Plain median (mean of the middle pair for even counts). Failures
    count as infinitely slow."""
    if not samples:
        raise ValueError("median of no samples")
    xs = sorted(samples)
    n = len(xs)
    mid = n // 2
    if n % 2:
        return xs[mid]
    lo, hi = xs[mid - 1], xs[mid]
    if math.isinf(hi):
        return hi
    return (lo + hi) / 2.0


def geomean(values: list[float]) -> float:
    """Geometric mean: every value weighs the same whatever its scale, so
    a mix of sub-second and multi-second queries moves it by the same
    share when any one of them gets slower. A failure (infinity) makes it
    infinite."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def beyond(samples: list[float], p: float) -> int:
    """How many samples lie strictly above the nearest-rank ``p``
    percentile position."""
    return len(samples) - _rank(p, len(samples))


def supported_tail(samples: list[float]) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median lacks them."""
    for p in TAIL_CANDIDATES:
        if beyond(samples, p) >= MIN_BEYOND:
            return p
    return None


def timing_summary(samples: list[float]) -> dict:
    """Median, p90, the supported tail percentile and the sample count
    of one timing series."""
    tail = supported_tail(samples)
    return {
        "n": len(samples),
        "failed": sum(1 for x in samples if math.isinf(x)),
        "p50": median(samples),
        "p90": percentile(samples, 90.0),
        "tail_p": tail,
        "tail": None if tail is None else percentile(samples, tail),
    }


def printable(x: float) -> float:
    """JSON-safe number: infinity (a failed operation) prints as
    ``FAILED_PRINT``."""
    return FAILED_PRINT if math.isinf(x) else x

