"""Order statistics with the benchmark's reporting rule."""
import math

# A percentile is reported only when at least this many samples lie beyond
# it. The end-to-end medians are medians of a run's operations, not
# percentiles of a latency distribution, and carry their sample count.
MIN_BEYOND = 10


def median(values):
    s = sorted(values)
    if not s:
        return None
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def pass_totals(values, n):
    """Sums of consecutive groups of `n` values (one whole pass each); a
    trailing partial group is dropped."""
    return [sum(values[i:i + n]) for i in range(0, len(values) - n + 1, n)]


def percentile(values, p):
    """Percentile `p` (0-100) by linear interpolation between order
    statistics, or None when fewer than MIN_BEYOND samples lie beyond it
    (for p > 50; below it). Returns {"value", "samples", "needed"}."""
    n = len(values)
    tail = (100 - p) if p > 50 else p
    needed = math.ceil(MIN_BEYOND * 100 / tail) if tail > 0 else math.inf
    out = {"value": None, "samples": n, "needed": needed}
    if n == 0 or n < needed:
        return out
    s = sorted(values)
    k = (n - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, n - 1)
    out["value"] = s[lo] + (s[hi] - s[lo]) * (k - lo)
    return out


def iqr_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    import statistics
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
