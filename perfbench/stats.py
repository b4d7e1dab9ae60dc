"""The benchmark's arithmetic: percentiles with a sample-count rule,
failures as latency misses, geometric means and span self time."""
import math
import statistics

MIN_BEYOND = 10


def latencies(ops):
    """Seconds of each operation; a failed one is a latency miss (inf),
    never dropped."""
    return [o["end"] - o["start"] if o["ok"] else math.inf for o in ops]


def median(samples):
    """Median with failures as +inf; None for no samples."""
    if not samples:
        return None
    return statistics.median(samples)


def percentile(samples, q):
    """Nearest-rank q-quantile (0 < q < 1). It needs MIN_BEYOND samples
    above it, so that it says something about the tail: p90 needs 100
    samples. Returns None when there are too few."""
    n = len(samples)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def highest_percentile(n):
    """The highest whole percentile with MIN_BEYOND samples above it
    among n, or None."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p
    return None


def geomean(values):
    """Geometric mean of positive values (inf if any is inf)."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    if any(math.isinf(v) for v in values):
        return math.inf
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def self_times(op, spans):
    """Self seconds per span name within one operation, plus the op's own
    self time under the key None (time no span claims). The values add
    up to the op's wall time when spans nest inside it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {None: self_time(op, kids.get(-1, []))}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], []))
    return out

