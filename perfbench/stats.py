"""Percentiles that refuse to report a tail the sample cannot support."""
import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p):
    """The p-th percentile (linear interpolation between order statistics).

    Refuses unless at least ten samples lie beyond the requested rank, so
    a "p99" over 16 samples (which is just the maximum) cannot be
    reported. The median needs ten samples on either side."""
    xs = sorted(values)
    n = len(xs)
    beyond = n * (100 - p) / 100 if p >= 50 else n * p / 100
    if n == 0 or math.floor(beyond) < MIN_BEYOND:
        raise TooFewSamples(f"p{p} needs {MIN_BEYOND} samples beyond it; have n={n}")
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
