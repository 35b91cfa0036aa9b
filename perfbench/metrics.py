"""Metric arithmetic for the benchmark: percentiles, failure accounting,
per-layer numbers from harness records and spans, and the output line.

Pure functions over plain lists and dicts, so `tests/` can pin them down
without Spark.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# percentile levels a tail may be reported at, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0)


def valid_name(name):
    """Metric names are made only of letters, digits, `_`, `.` and `-`."""
    return bool(NAME_RE.fullmatch(name))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (the epsilon
    keeps float error from pushing e.g. 99.9% of 10000 to rank 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    return sorted(xs)[rank(len(xs), p) - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - rank(n, p)


def tail(xs, highest=99.9, min_beyond=10):
    """The highest percentile level, at most `highest`, with at least
    `min_beyond` samples beyond it, as (level, value); None when even the
    lowest level lacks them."""
    for p in TAIL_LEVELS:
        if p <= highest and beyond(len(xs), p) >= min_beyond:
            return p, percentile(xs, p)
    return None


def failure_accounting(ops, condemned=lambda o: False):
    """(attempted, failed) over measured ops. An op fails when it raised,
    timed out or failed an in-op check (its `ok` is false), or when a check
    run after the harness condemned it."""
    return len(ops), sum(1 for o in ops if not o.get("ok", False) or condemned(o))


def self_times(spans):
    """Per-span self time in ns: duration minus the union of its children's
    intervals (clipped to the parent)."""
    kids = {}
    for s in spans:
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
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


def layer_of(span_name):
    """`queries.build` -> `queries`; the op root span belongs to the harness."""
    return span_name.split(".", 1)[0] if "." in span_name else "bench"


def span_summary(spans):
    """Self ms per op for each layer, and the share of op wall time that
    layer spans (everything but the harness's own root self time) cover."""
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] < 0]
    n_ops = len(roots)
    per_layer = {}
    for s in spans:
        per_layer[layer_of(s["name"])] = per_layer.get(layer_of(s["name"]), 0) + st[s["id"]]
    wall = sum(s["end_ns"] - s["start_ns"] for s in roots)
    covered = wall - per_layer.get("bench", 0)
    self_ms = {k: v / 1e6 / n_ops for k, v in per_layer.items()} if n_ops else {}
    return self_ms, (covered / wall if wall else 0.0)


def durations_ms(spans, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]


def overhead(untraced, traced):
    """Tracing overhead: the traced loop's median op time over the untraced
    loop's, minus one, on the op indices both loops ran. Both loops start
    from identical set-up states at op 0, so they run the same ops."""
    common = {o["index"] for o in untraced} & {o["index"] for o in traced}
    u = median([o["ms"] for o in untraced if o["index"] in common])
    t = median([o["ms"] for o in traced if o["index"] in common])
    return t / u - 1 if u > 0 else 0.0


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last output line, as a dict ready for json.dumps."""
    bad = [k for k in metrics if not valid_name(k)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
