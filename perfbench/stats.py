"""Percentiles and span arithmetic for the benchmark's reports."""
import bisect
import math
import statistics

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples above it


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, q=0.9, beyond=TAIL_BEYOND):
    """Nearest-rank q-quantile of xs, or None when fewer than `beyond`
    samples lie above it (a p90 needs at least 100 samples)."""
    n = len(xs)
    if n == 0:
        return None
    k = math.ceil(q * n) - 1
    if n - (k + 1) < beyond:
        return None
    return sorted(xs)[k]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
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


# Listener times have millisecond resolution; allow that much skew when
# placing a Spark span inside a span timed on the request thread.
SKEW_US = 1000


class SpanTree:
    """Spans as (id, parent, name, start_us, end_us). Spans timed on the
    request thread carry their parent (0 = top level). Spark listener spans
    carry parent -1 and are placed under the innermost span whose interval
    holds their start; Spark jobs go under the SQL execution holding them."""

    def __init__(self, spans):
        self.spans = {s[0]: tuple(s) for s in spans}
        self.children = {}
        own = [s for s in self.spans.values() if s[1] >= 0]
        self.top = sorted((s for s in own if s[1] == 0), key=lambda s: s[3])
        self._top_starts = [s[3] for s in self.top]
        for s in own:
            if s[1] > 0:
                self.children.setdefault(s[1], []).append(s[0])
        spark = sorted((s for s in self.spans.values() if s[1] < 0), key=lambda s: (s[2] != "spark.sql", s[3]))
        for s in spark:
            parent = self._place(s)
            self.spans[s[0]] = (s[0], parent, s[2], s[3], s[4])
            if parent:
                self.children.setdefault(parent, []).append(s[0])

    def _place(self, s):
        i = bisect.bisect_right(self._top_starts, s[3] + SKEW_US) - 1
        if i < 0 or s[3] > self.top[i][4] + SKEW_US:
            return 0
        node = self.top[i][0]
        while True:
            inner = [c for c in self.children.get(node, ())
                     if self.spans[c][3] - SKEW_US <= s[3] <= self.spans[c][4] and c != s[0]
                     and (s[2] == "spark.job" or self.spans[c][2] != "spark.sql")]
            if not inner:
                return node
            node = max(inner, key=lambda c: self.spans[c][3])

    def duration(self, sid):
        s = self.spans[sid]
        return s[4] - s[3]

    def self_time(self, sid):
        """Duration minus the part of it its children cover."""
        s = self.spans[sid]
        kids = [(self.spans[c][3], self.spans[c][4]) for c in self.children.get(sid, ())]
        return (s[4] - s[3]) - union_length(kids, s[3], s[4])

    def subtree(self, sid):
        out, stack = [], [sid]
        while stack:
            n = stack.pop()
            out.append(n)
            stack.extend(self.children.get(n, ()))
        return out

    def named(self, prefix):
        return [sid for sid, s in self.spans.items() if s[2].startswith(prefix)]

    def outermost(self, prefix):
        """Spans named prefix* whose parent is not itself a prefix* span."""
        return [sid for sid in self.named(prefix)
                if not self.spans.get(self.spans[sid][1], (0, 0, ""))[2].startswith(prefix)]
