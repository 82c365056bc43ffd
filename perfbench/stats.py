"""Summary statistics the benchmark reports and the bound check it applies."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as
    `statistics.quantiles(values, n=4)` gives them (one value: itself)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail_percentile(values, min_beyond=10):
    """The highest whole percentile p (50 <= p <= 99) with at least
    `min_beyond` samples strictly above its value, and that value; None when
    even the median has fewer samples beyond it."""
    ordered = sorted(values)
    best = None
    for p in range(50, 100):
        v = percentile(ordered, p)
        if sum(1 for x in ordered if x > v) >= min_beyond:
            best = (p, v)
    return best


def percentile(values, p):
    """Linear-interpolated percentile of `values` (0 <= p <= 100)."""
    ordered = sorted(values)
    if len(ordered) == 1:
        return ordered[0]
    pos = (len(ordered) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def within_bound(parent, change, bound, better):
    """True when the change's median is no worse than the parent's by more
    than `bound`, a share of the parent's median."""
    p, c = median(parent), median(change)
    worse = (c - p) / p if better == "lower" else (p - c) / p
    return worse <= bound
