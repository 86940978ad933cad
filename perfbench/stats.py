"""Order statistics the benchmark reports: median, quartiles, and the
highest percentile that still has at least ten samples beyond it."""
import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as statistics.quantiles(xs, n=4) gives them; a single
    sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs):
    """(p, value) for the highest percentile in TAIL_PERCENTILES with at
    least MIN_BEYOND samples above its rank, or None when there are too
    few samples for any of them."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None
