"""The benchmark's own arithmetic: percentiles with their sample-count
rule, interval unions and self time, spread, and metric-name checks.
Pure functions, tested in `test_bench.py`."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# a percentile is reported only with at least this many samples beyond it
MIN_TAIL = 10


def valid_name(name):
    return isinstance(name, str) and NAME_RE.match(name) is not None


def valid_unit(unit):
    return isinstance(unit, str) and UNIT_RE.match(unit) is not None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs) - 1e-9))
    return xs[rank - 1]


def tail_count(n, p):
    """Samples strictly beyond the p-th percentile's rank among n."""
    return n - max(1, math.ceil(p / 100.0 * n - 1e-9))


def supported(n, p):
    """A percentile is supported when at least MIN_TAIL samples lie beyond it."""
    return n > 0 and tail_count(n, p) >= MIN_TAIL


def highest_supported(n, candidates=(50, 90, 99, 99.9)):
    """The highest candidate percentile with MIN_TAIL samples beyond it,
    or None when even the median is not supported."""
    ok = [p for p in candidates if supported(n, p)]
    return max(ok) if ok else None


def summarize(values, ps=(50, 90)):
    """Percentiles of `values`, each with its sample count and whether the
    sample-count rule supports it."""
    n = len(values)
    out = {"n": n, "highest_supported": highest_supported(n)}
    for p in ps:
        out[f"p{p:g}"] = percentile(values, p) if n else None
        out[f"p{p:g}_supported"] = supported(n, p)
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs start, end), clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return max(0.0, (b - a) - union_length(children, a, b))


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with `statistics.quantiles(values, n=4)`."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
