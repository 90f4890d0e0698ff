"""Small numeric helpers: percentiles and interval arithmetic."""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[_rank(len(s), p) - 1]


def _rank(n: int, p: float) -> int:
    # the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def median(samples: list[float]) -> float:
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th
    percentile."""
    return n - _rank(n, p)


def tail_percentile(
    samples: list[float], min_beyond: int = 10
) -> tuple[float, float, int] | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, as (percentile, value, sample count); None when
    even the median has fewer than ``min_beyond`` samples above it."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p, percentile(samples, p), n
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
