"""Pure arithmetic of the benchmark: throughput and span self times."""


def throughput(items, attempted, failed, seconds):
    """Items of succeeded work per second of all operations: `items` were
    attempted in `seconds`; the failed share of `attempted` (counted in the
    workload's own unit) is taken out of the items, never out of the time."""
    return items * (attempted - failed) / attempted / seconds


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Seconds of self time per layer: each span's duration minus the part of
    its interval that its children cover, summed over the layer's spans.

    `spans` are dicts with id, parent, layer, start_ns, end_ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        inside = [(max(c["start_ns"], lo), min(c["end_ns"], hi)) for c in kids.get(s["id"], [])]
        own = (hi - lo) - covered([iv for iv in inside if iv[1] > iv[0]])
        out[s["layer"]] = out.get(s["layer"], 0) + own / 1e9
    return out
