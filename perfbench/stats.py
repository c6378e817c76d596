"""Percentile helpers shared by run.py and compare.py."""
import math
import statistics


def percentile(xs, q):
    """q-th percentile (0..100) by linear interpolation between ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    """Geometric mean of positive samples."""
    if not xs:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartiles(xs):
    """(Q1, median, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        x = xs[0]
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")
