"""Summary statistics with the benchmark's percentile rule: a percentile is
reported only when at least MIN_TAIL samples lie beyond it, so p50 needs
20 samples and p90 needs 100; every reported figure carries its n."""

import math

MIN_TAIL = 10


def tail_count(n, q):
    """Samples beyond the q-th percentile (0 < q < 100) of n samples, on
    the smaller side."""
    return math.floor(n * min(q, 100 - q) / 100)


def reportable(n, q):
    return tail_count(n, q) >= MIN_TAIL


def percentile(values, q):
    """(value, n) of the q-th percentile, linearly interpolated between
    closest ranks, or (None, n) when the rule forbids reporting it."""
    n = len(values)
    if not reportable(n, q):
        return None, n
    s = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), n


def median(values):
    """Plain median of a fixed, small number of repeats (set-up times),
    which the percentile rule does not govern."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def mean(values):
    return sum(values) / len(values) if values else None
