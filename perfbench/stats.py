"""Summary statistics for benchmark samples and trace spans."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q2, q3) as `statistics.quantiles(values, n=4)` gives them."""
    return tuple(statistics.quantiles(values, n=4))


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile) or None when there are too few samples:
    with n sorted samples the value at index n - beyond - 1 has exactly
    `beyond` samples after it, and it is the (n - beyond) / n percentile.
    """
    n = len(values)
    if n <= beyond:
        return None
    return sorted(values)[n - beyond - 1], 100.0 * (n - beyond) / n


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a >= end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Seconds of self time per layer.

    A span's self time is its duration minus the part of its interval that
    its child spans cover. Spans are dicts with id, parent, layer, startNs
    and endNs.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["startNs"], s["endNs"]
        covered = _union([(max(a, c["startNs"]), min(b, c["endNs"]))
                          for c in children.get(s["id"], [])
                          if min(b, c["endNs"]) > max(a, c["startNs"])])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (b - a - covered) / 1e9
    return out
