"""Statistics the benchmark reports, kept free of I/O so the tests in
test_harness.py can pin them down."""
import math
import statistics

# percentiles the tail rule may pick, highest first
TAILS = (99.9, 99.0, 90.0)


def percentile(values, p):
    """Nearest-rank p-th percentile, or None when fewer than ten samples
    lie beyond it (the rule: report only percentiles that at least ten
    samples exceed in rank)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    idx = max(0, math.ceil(p / 100.0 * n) - 1)
    if n - (idx + 1) < 10:
        return None
    return xs[idx]


def median(values):
    """Median of the samples (None when there are none)."""
    return statistics.median(values) if values else None


def tail(values):
    """("pNN", value) for the highest of TAILS the rule allows, or None."""
    for p in TAILS:
        x = percentile(values, p)
        if x is not None:
            return f"p{p:g}", x
    return None


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count
    once). `spans` are dicts with id, parent, start_ns, end_ns; returns
    {id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
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
        out[s["id"]] = (hi - lo) - covered
    return out


def lateness_ms(chunks):
    """How late the open-loop generator sent each chunk: sent minus due,
    in ms, never negative."""
    return [max(0.0, (c["sent_ns"] - c["due_ns"]) / 1e6) for c in chunks]


def batch_of_offset(batches, offset):
    """The micro-batch whose (start_offset, end_offset] range holds the
    source offset, or None. A first batch has start_offset None."""
    for b in sorted(batches, key=lambda b: b["batch_id"]):
        start = -1 if b["start_offset"] is None else b["start_offset"]
        if b["end_offset"] is not None and start < offset <= b["end_offset"]:
            return b
    return None


def visible_latency_ms(chunks, batches, commit_end_ns):
    """Chunk -> batch -> commit join: for each chunk, the time from its
    due time to the end of the commit of the batch that carried it.
    `commit_end_ns` maps batch id -> end of that batch's commit. Chunks
    whose batch never committed are returned in the second list."""
    lat, missing = [], []
    for c in chunks:
        b = batch_of_offset(batches, c["offset"])
        end = None if b is None else commit_end_ns.get(b["batch_id"])
        if end is None:
            missing.append(c)
        else:
            lat.append((end - c["due_ns"]) / 1e6)
    return lat, missing
