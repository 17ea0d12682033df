"""Statistics over the raw samples Main writes: percentiles, span self
times and the per-layer table. Pure functions, tested in perfbench/tests."""
import math
from collections import defaultdict


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank p-th percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, beyond), `beyond` being the
    number of samples ranked above the returned one."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1], len(s) - rank


def self_times(spans, window):
    """Split the wall time of `window` = (start, end) over spans.

    At each instant the time goes, in equal shares, to the innermost spans
    active then (an active span none of whose children is active); time no
    span covers is unattributed. Shares of concurrent spans are split, so
    the self times plus the unattributed time sum to the window exactly.
    Spans are dicts with id, parent, name, start_ns, end_ns.
    Returns ({span id: self ns}, unattributed ns)."""
    lo, hi = window
    edges = sorted({lo, hi} | {min(max(t, lo), hi) for s in spans
                               for t in (s["start_ns"], s["end_ns"])})
    self_ns = defaultdict(float)
    unattributed = 0.0
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = [s for s in spans if s["start_ns"] <= mid < s["end_ns"]]
        parents = {s["parent"] for s in active}
        leaves = [s for s in active if s["id"] not in parents]
        if not leaves:
            unattributed += b - a
        for s in leaves:
            self_ns[s["id"]] += (b - a) / len(leaves)
    return dict(self_ns), unattributed


def layer_table(spans, window):
    """Per span name: count, inclusive wall, self time and summed counters
    (ms for times). Includes an `unattributed` row; the self column plus
    that row sums to the window."""
    own, unattributed = self_times(spans, window)
    rows = defaultdict(lambda: {"count": 0, "wall_ms": 0.0, "self_ms": 0.0,
                                "counters": defaultdict(int)})
    for s in spans:
        r = rows[s["name"]]
        r["count"] += 1
        r["wall_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        r["self_ms"] += own.get(s["id"], 0.0) / 1e6
        for k, v in s.get("counters", {}).items():
            r["counters"][k] += v
    out = {k: {**v, "counters": dict(v["counters"])} for k, v in sorted(rows.items())}
    out["unattributed"] = {"count": 0, "wall_ms": unattributed / 1e6,
                           "self_ms": unattributed / 1e6, "counters": {}}
    return out


def fold_excess_ms(spans):
    """Wall time the folding calls of one layer spent beyond the layer's
    median non-folding call: the cost of folds and compactions, which run
    inside the append call that triggers them. Spans carry a `folds`
    counter."""
    plain = [s["end_ns"] - s["start_ns"] for s in spans
             if not s["counters"].get("folds")]
    if not plain:
        return 0.0
    base = median(plain)
    return sum(max(0.0, s["end_ns"] - s["start_ns"] - base) for s in spans
               if s["counters"].get("folds")) / 1e6
