"""Arithmetic the benchmark reports with: medians, the p90 tail,
self times from prefix timings, and throughput."""
import math
import statistics

# p90 is reported only when at least this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def p90(values):
    """The nearest-rank 90th percentile, or None when fewer than
    TAIL_MIN_BEYOND samples lie beyond it (fewer than 100 samples)."""
    if beyond(len(values), 90.0) < TAIL_MIN_BEYOND:
        return None
    return percentile(values, 90.0)


def self_times(prefixes):
    """Self time of each step from prefix timings.

    `prefixes` maps a step name to (parent name or "", seconds to
    materialise the chain up to and including that step). A step's self
    time is its prefix time minus its parent's prefix time; a root step
    keeps its whole prefix time."""
    return {name: secs - (prefixes[parent][1] if parent else 0.0)
            for name, (parent, secs) in prefixes.items()}


def items_per_s(items, seconds):
    """Items processed per second of wall time."""
    if seconds <= 0:
        raise ValueError("seconds must be positive")
    return items / seconds

