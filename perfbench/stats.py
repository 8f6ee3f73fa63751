"""Order statistics and span arithmetic used by run.py."""


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default), q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def self_times(spans):
    """Self time per span name, in ms: each span's duration minus the part of
    its interval that its children cover (overlapping children counted once).
    `spans` is a list of dicts with key, name, start_us, end_us, parent."""
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["key"], []), key=lambda c: c["start_us"]):
            a, b = max(lo, c["start_us"]), min(hi, c["end_us"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo - covered) / 1000.0
    return out
