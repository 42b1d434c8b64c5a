"""Summary statistics shared by the benchmark and its tests."""
import statistics


def percentile(values, pct):
    """The `pct` percentile of `values` (linear interpolation between
    closest ranks, as numpy's default)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_pct(n, want):
    """The highest whole percentile, at most `want`, with at least ten of
    `n` samples beyond it; never below the median."""
    pct = want
    while pct > 50 and n * (100 - pct) / 100.0 < 10:
        pct -= 1
    return pct


def tail(values, want):
    """(value, percentile used, sample count) for a latency tail: the
    `want` percentile when at least ten samples lie beyond it, else the
    highest percentile that has ten beyond it (the median at least)."""
    pct = tail_pct(len(values), want)
    return percentile(values, pct), pct, len(values)


def median(values):
    return statistics.median(values)
