"""Percentiles, reply digests and span self time."""
import hashlib
import json
import math


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default);
    q in [0, 100]. Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def digest(columns, rows):
    """Shape digest of a tabular reply: column names in order and the row
    count. Values are left out on purpose: plans and listings may carry
    ids that change between calls."""
    key = json.dumps({"columns": list(columns), "rows": len(rows)}, sort_keys=True)
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def self_times(spans):
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span).

    `spans` is a list of dicts with keys name, start, end, parent (index
    into the list, -1 for a root). Returns a list of self times in the
    same order."""
    children = [[] for _ in spans]
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            children[s["parent"]].append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted((max(spans[c]["start"], s["start"]), min(spans[c]["end"], s["end"]))
                     for c in children[i])
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0, (s["end"] - s["start"]) - covered))
    return out


def layer_self(spans):
    """Self time summed per span name."""
    acc = {}
    for s, t in zip(spans, self_times(spans)):
        acc[s["name"]] = acc.get(s["name"], 0) + t
    return acc
