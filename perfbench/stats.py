"""Statistics helpers for the graft benchmark: percentiles, the tail rule,
geometric means and span self time along an operation's blocking path."""

import math

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """The p-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n):
    """The highest percentile that has at least ten samples beyond it among
    n samples, or None when even p75 has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def tail(values):
    """(percentile, value) by the tail rule, or (None, None)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def blocking_path(root, spans, rank):
    """Self time of each span along the root operation's blocking path.

    spans: list of (name, start, end) inside the root operation. A span's
    self time is its duration minus what its children cover; here every
    instant goes to the active span of highest rank(name) (a child ranks
    above its caller), the latest-started on ties, and instants no span
    covers go to "residual". The parts sum to the root's duration
    exactly."""
    a0, b0 = root
    cuts = sorted({a0, b0} | {min(max(t, a0), b0) for _, s, e in spans for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        live = [(rank(n), s, n) for n, s, e in spans if s <= mid < e]
        name = max(live)[2] if live else "residual"
        out[name] = out.get(name, 0.0) + (b - a)
    return out
