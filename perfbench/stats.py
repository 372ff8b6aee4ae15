"""Order statistics and span self-times for the benchmark.

Pure functions over plain lists, so the tests can check them on
synthetic inputs without a JVM.
"""
import statistics

# Percentiles considered for a tail latency, highest first.
TAIL_PERCENTILES = (99.9, 99, 90)
# A tail percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def quartiles(xs):
    """First and third quartile, as `statistics.quantiles(xs, n=4)` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0-100) of `xs`."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs):
    """(p, value) for the highest of TAIL_PERCENTILES with at least
    MIN_BEYOND samples above it, or None when the sample is too small."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p, percentile(xs, p)
    return None


def _covered(interval, others):
    """Length of the part of `interval` that the union of `others` covers."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
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


def resolve_parents(spans):
    """Map span id -> parent id (None for a root).

    A span is (id, parent, layer, name, start, end). The parent field
    is a span id, `g<id>` naming the query span whose Spark job group
    launched it, or empty. A job-group span goes under the innermost
    benchmark span of its query that contains its start, or the query
    itself; a span with an empty parent goes under the innermost
    benchmark span that contains its start. Benchmark spans are the run
    span (layer "run") and the spans below it through direct parents.
    """
    by_id = {s[0]: s for s in spans}
    children = {}
    for s in spans:
        if s[1] in by_id:
            children.setdefault(s[1], []).append(s)
    runs = [s for s in spans if s[2] == "run" and s[1] == ""]

    def innermost(candidates, t):
        for c in candidates:
            if c[4] <= t <= c[5]:
                return innermost(children.get(c[0], []), t) or c
        return None

    parents = {}
    for s in spans:
        sid, parent = s[0], s[1]
        if parent in by_id:
            parents[sid] = parent
        elif parent.startswith("g") and parent[1:] in by_id:
            query = by_id[parent[1:]]
            parents[sid] = (innermost([query], s[4]) or query)[0]
        elif s in runs:
            parents[sid] = None
        else:
            home = innermost(runs, s[4])
            parents[sid] = home[0] if home is not None else None
    return parents


def self_times(spans):
    """Total self time per layer: each span's duration less the part of
    it its children cover, summed over the spans of that layer."""
    parents = resolve_parents(spans)
    kids = {}
    for s in spans:
        p = parents.get(s[0])
        if p is not None:
            kids.setdefault(p, []).append((s[4], s[5]))
    totals = {}
    for s in spans:
        own = (s[5] - s[4]) - _covered((s[4], s[5]), kids.get(s[0], []))
        totals[s[2]] = totals.get(s[2], 0) + own
    return totals
