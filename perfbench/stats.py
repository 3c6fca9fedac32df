"""Statistics helpers of the benchmark (tested by test_stats.py)."""
import statistics


def quartiles(xs):
    """(q1, median, q3) the way `statistics.quantiles(xs, n=4)` gives them;
    a single sample is its own quartiles."""
    if len(xs) == 1:
        return (xs[0],) * 3
    return tuple(statistics.quantiles(xs, n=4))


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it: by
    nearest rank, the (n - beyond)-th smallest sample, at percentile
    100 * (n - beyond) / n. Returns (percentile, value, n), or None when
    that percentile would fall below the median (n < 2 * beyond)."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond:
        return None
    return 100.0 * (n - beyond) / n, s[n - beyond - 1], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    clipped to [lo, hi] when those are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def phases_cover_wall(phase_durations, wall, tolerance=0.05):
    """True when the phases of one call add up to its measured wall time
    within `tolerance` (a share of the wall)."""
    return abs(sum(phase_durations) - wall) <= tolerance * wall
