"""Pure helpers for the stream benchmark: percentiles and span arithmetic."""

import math


def percentile(values, q):
    """The q-quantile (0 <= q <= 1) by linear interpolation between order
    statistics (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """Samples that lie above the q-quantile of n samples."""
    return int(math.floor(n * (1.0 - q) + 1e-9))


def tail_percentile(values, q, min_beyond=10):
    """The q-quantile, only when at least `min_beyond` samples lie beyond it:
    a tail figure resting on fewer samples is one or two outliers, not a
    percentile. Raises ValueError otherwise."""
    if beyond(len(values), q) < min_beyond:
        raise ValueError(f"p{q * 100:g} needs {min_beyond} samples beyond it; "
                         f"{len(values)} samples give {beyond(len(values), q)}")
    return percentile(values, q)


class Span:
    """A traced interval: name, start and end (ms), its parent's id and the
    trace it belongs to (one micro-batch, one file)."""

    __slots__ = ("id", "name", "start", "end", "parent", "trace")

    def __init__(self, id, name, start, end, parent=None, trace=None):
        self.id, self.name, self.start, self.end = id, name, start, end
        self.parent, self.trace = parent, trace

    @property
    def duration(self):
        return self.end - self.start

    def as_dict(self):
        return {k: getattr(self, k) for k in self.__slots__}


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(s.start, s.end, kids.get(s.id, ())) for s in spans}
