"""Statistics the benchmark reports: percentiles, the tail rule, the failed
fraction, and span self-time."""


def quantile(values, q):
    """Linear-interpolated quantile of `values` at q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def tail_quantile(values, q, min_beyond=10):
    """The q-quantile, or None unless at least `min_beyond` samples lie
    strictly beyond it: a tail figure backed by fewer samples is noise."""
    if not values:
        return None
    v = quantile(values, q)
    return v if sum(1 for x in values if x > v) >= min_beyond else None


def failed_frac(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def covered(intervals, a=float("-inf"), b=float("inf")):
    """Length of the union of `intervals` (start, end pairs), clipped to
    [a, b]."""
    clipped = [(max(s, a), min(e, b)) for s, e in intervals]
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(c for c in clipped if c[1] > c[0]):
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
    """Self time of each span: its duration minus the part covered by its
    children (clipped to the span; overlapping children count once).
    `spans` are dicts with id, start, end, parent. Returns id -> time."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (b - a) - covered(kids, a, b)
    return out


def self_time_by_name(spans):
    """Total self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
