"""Statistics and interval arithmetic shared by run.py and layers.py."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """Metric and workload names: letters, digits, `_`, `.`, `-`; at most 64."""
    return bool(NAME_RE.match(name))


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(samples, min_beyond=10):
    """(percentile, value, n) at the highest integer percentile that has at
    least `min_beyond` samples beyond it, by the nearest-rank rule.

    With n samples that is p = floor(100 (n - min_beyond) / n). When
    n <= min_beyond no percentile qualifies, and the maximum is returned
    with percentile 100 so the caller can see the rule did not apply.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 100, 0.0, 0
    if n <= min_beyond:
        return 100, xs[-1], n
    p = (100 * (n - min_beyond)) // n
    k = max(0, math.ceil(p * n / 100) - 1)
    return p, xs[k], n


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def depth_profile(intervals):
    """[(start, end, depth)] segments where `depth` intervals overlap."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    out, depth, last = [], 0, None
    for t, d in events:
        if last is not None and t > last and depth > 0:
            out.append((last, t, depth))
        depth += d
        last = t
    return out


def concurrency(intervals):
    """(seconds with two or more intervals open, the most open at once)."""
    segs = depth_profile(intervals)
    return (sum(b - a for a, b, d in segs if d >= 2), max((d for _, _, d in segs), default=0))


def partition(window, layers):
    """Split `window` = (lo, hi) among prioritized layers of intervals.

    `layers` is [(name, intervals)], highest priority first. Each instant
    of the window goes to the first layer with an interval covering it;
    instants no layer covers go to "self". Overlap inside a layer is
    counted once. The returned values sum to hi - lo.
    """
    lo, hi = window
    clipped = [(name, clip(iv, lo, hi)) for name, iv in layers]
    cuts = sorted({lo, hi} | {t for _, iv in clipped for ab in iv for t in ab})
    out = {name: 0.0 for name, _ in layers}
    out["self"] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        for name, iv in clipped:
            if any(x <= mid < y for x, y in iv):
                out[name] += b - a
                break
        else:
            out["self"] += b - a
    return out
