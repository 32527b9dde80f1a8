"""Summary statistics shared by the runner and its tests."""
import statistics
from collections import defaultdict

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail value


def tail(values, beyond=TAIL_BEYOND):
    """The value at the highest percentile with at least `beyond` samples
    above it: the (beyond+1)-th largest. Returns (value, percentile, n);
    the percentile is the share of samples at or below the value. Needs more
    than `beyond` samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    v = sorted(values)[n - beyond - 1]
    return v, 100.0 * (n - beyond) / n, n


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of its
    interval that its direct children cover, summed by layer. `spans` holds
    dicts with id, parent, layer, start and end."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covered, lo = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, lo), min(b, s["end"])
            if b > a:
                covered, lo = covered + b - a, b
        out[s["layer"]] += s["end"] - s["start"] - covered
    return dict(out)


def per_op_median_sum(samples):
    """Sum over distinct ops of the median wall of that op's samples: the
    wall of one pass over the op list."""
    by_op = defaultdict(list)
    for s in samples:
        by_op[s["op"]].append(s["wall_s"])
    return sum(statistics.median(v) for v in by_op.values())
