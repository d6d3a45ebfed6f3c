"""Order statistics the benchmark reports, kept free of Spark so the
tests can pin them on plain numbers."""

from __future__ import annotations

import statistics

#: A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: with the ``n`` samples sorted
    ascending, the value is the ``n - beyond``-th one (1-based) and the
    percentile is ``100 * (n - beyond) / n``. Fewer than ``beyond + 1``
    samples have no such percentile and raise ``ValueError``."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    i = n - beyond
    return float(xs[i - 1]), 100.0 * i / n, n


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``, the exclusive
    method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """Union of ``(start, end)`` intervals as sorted disjoint intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in merge_intervals(clipped))


def gaps(intervals) -> list[tuple[float, float]]:
    """Holes between the merged intervals: from the end of one busy
    stretch to the start of the next."""
    merged = merge_intervals(intervals)
    return [(a[1], b[0]) for a, b in zip(merged, merged[1:])]
