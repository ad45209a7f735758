"""Summary statistics shared by run.py and the benchmark's tests."""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """Latency at the highest whole percentile that leaves at least
    ``beyond`` samples above it (nearest-rank). Returns (value, percentile,
    samples), or None when there are too few samples for any such
    percentile."""
    n = len(xs)
    if n <= beyond:
        return None
    pct = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return sorted(xs)[rank - 1], pct, n


def spread(values):
    """Inter-quartile distance as a share of the median, as the acceptance
    rule computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def valid_name(name):
    return bool(NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()
