"""Percentiles and span arithmetic for the benchmark."""
import math

# A tail percentile is backed by the run only when at least this many
# samples rank above it.
MIN_BEYOND = 10


def percentile(values, q):
    """q-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """Samples ranked strictly above the q-th percentile of n samples."""
    return n - math.ceil(q / 100.0 * n)


def supports(n, q):
    """True when n samples carry MIN_BEYOND samples beyond the q-th
    percentile."""
    return samples_beyond(n, q) >= MIN_BEYOND


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover.

    `spans` maps span id -> (name, parent id or None, start, end). Returns
    span id -> self time, in the spans' unit."""
    children = {}
    for sid, (_, parent, start, end) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {sid: (end - start) - covered(children.get(sid, []), start, end)
            for sid, (_, _, start, end) in spans.items()}


def self_time_by_name(spans):
    """Total self time per span name."""
    totals = {}
    for sid, t in self_times(spans).items():
        name = spans[sid][0]
        totals[name] = totals.get(name, 0) + t
    return totals
