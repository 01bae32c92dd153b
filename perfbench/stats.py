"""Statistics helpers of the benchmark report: medians, geometric
means, and self time of nested spans."""
import bisect
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def covered(start, end, children):
    """Length of [start, end] covered by the union of child intervals."""
    parts = sorted((max(s, start), min(e, end)) for s, e in children)
    total, cur_s, cur_e = 0, None, None
    for s, e in parts:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)


class Windows:
    """Non-overlapping spans, sorted, to find the one containing a time."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda s: s["start_ns"])
        self.starts = [s["start_ns"] for s in self.spans]

    def find(self, t_ns):
        i = bisect.bisect_right(self.starts, t_ns) - 1
        if i >= 0 and t_ns <= self.spans[i]["end_ns"]:
            return self.spans[i]
        return None
