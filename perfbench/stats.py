"""Order statistics for benchmark timings."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank p-th percentile: the smallest sample with at least p%
    of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def percentile_with_tail(xs, candidates=(99, 95, 90, 75, 50), tail=10):
    """The highest candidate percentile that has at least `tail` samples
    beyond it, as (p, value); None when even the lowest has fewer."""
    for p in candidates:
        if beyond(len(xs), p) >= tail:
            return p, percentile(xs, p)
    return None
