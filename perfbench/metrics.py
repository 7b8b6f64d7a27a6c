"""Pure metric arithmetic for the benchmark: percentiles, the tail rule,
fail_ratio, span self-time and per-layer roll-ups. No I/O, so the
benchmark's own tests can drive it directly."""
import statistics

# Tail percentiles, highest first. A tail is reported only at a
# percentile with at least TAIL_MIN_BEYOND samples beyond it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile (p in (0, 100])."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(min(k, len(s))) - 1]


def tail(xs):
    """(percentile, value) at the highest ladder percentile that has at
    least TAIL_MIN_BEYOND samples beyond it, or None when the sample is
    too small for any of them."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:
            return p, percentile(xs, p)
    return None


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


def op_latencies(ops, bad):
    """Latencies of good ops. A failed or wrong op (index in `bad`)
    misses every latency limit, so it enters as +inf."""
    return [float("inf") if (not o["ok"] or o["i"] in bad) else o["lat_s"]
            for o in ops]


def self_times(spans):
    """Span id -> self time in seconds: duration minus the time covered
    by its child spans (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
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
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def span_totals(spans, ops, name):
    """Per-op total duration (s) of spans called `name`, for each op in
    `ops` (ops without such a span count 0)."""
    tot = {o: 0.0 for o in ops}
    for s in spans:
        if s["name"] == name and s["op"] in tot:
            tot[s["op"]] += (s["end_ns"] - s["start_ns"]) / 1e9
    return [tot[o] for o in ops]


def subtree_exec(spans, exec_stats, ops, name, key):
    """Per-op sum of counter `key` over the spans called `name` and
    their descendants, for each op in `ops`."""
    by_id = {s["id"]: s for s in spans}

    def under(sid):
        while sid in by_id:
            if by_id[sid]["name"] == name:
                return True
            sid = by_id[sid]["parent"]
        return False

    tot = {o: 0 for o in ops}
    for sid, st in exec_stats.items():
        s = by_id.get(int(sid))
        if s is not None and s["op"] in tot and under(s["id"]):
            tot[s["op"]] += st.get(key, 0)
    return [tot[o] for o in ops]


def exec_per_op(spans, exec_stats, ops):
    """Per-op sums of the Spark counters attributed to the op's spans."""
    op_of = {s["id"]: s["op"] for s in spans}
    out = {o: {} for o in ops}
    for sid, st in exec_stats.items():
        o = op_of.get(int(sid))
        if o in out:
            for k, v in st.items():
                out[o][k] = out[o].get(k, 0) + v
    return [out[o] for o in ops]


def trace_overhead(ops):
    """Median over traced ops of latency / mean latency of the untraced
    ops right before and after it. Ops alternate untraced/traced, and
    only a traced op with good untraced ops on both sides counts, so
    drift that is linear in the op index (such as growing ingest
    state) cancels. 0 when no traced op has both neighbours."""
    by_i = {o["i"]: o for o in ops if o["ok"]}
    ratios = []
    for o in by_i.values():
        if not o["traced"]:
            continue
        nb = [by_i[j] for j in (o["i"] - 1, o["i"] + 1) if j in by_i]
        if len(nb) == 2 and not any(x["traced"] for x in nb):
            ratios.append(o["lat_s"] / ((nb[0]["lat_s"] + nb[1]["lat_s"]) / 2))
    return median(ratios) if ratios else 0.0


# JSON has no infinity: a median that lands on a failed op (+inf, see
# op_latencies) is printed as this many seconds.
MISSED_S = 1e9


def metric(value, unit):
    return {"value": value if value != float("inf") else MISSED_S, "unit": unit}


def result_line(correct, attempted, failed, metrics):
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed), "metrics": metrics}
