"""Turns the harness's raw record into the benchmark's metrics.

end_to_end: the figures a user sees (untraced run).
per_layer:  the layer figures (traced run), named <layer>.<metric>.
detail:     the other end-to-end figures (fail_ratio, tails, peak RSS,
            recall, read latency, write/space amplification), printed on
            a line of their own before the result line.
"""
import metrics as m

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}

LAYER_UNITS = {
    "sources.scan_bytes": "B", "sources.scan_files": "count",
    "sources.mirror_s": "s",
    "functions.tokens_ns_per_doc": "ns", "functions.hashed_grams_ns_per_doc": "ns",
    "functions.minhash_ns_per_doc": "ns", "functions.dot_ns_per_pair": "ns",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.bm25_s": "s", "queries.context_s": "s",
    "plans.analysis_s": "s", "plans.optimizer_s": "s", "plans.planning_s": "s",
    "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "plans.scans": "count", "plans.broadcasts": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s",
    "exec.sched_delay_s": "s", "exec.core_busy": "ratio",
    "operators.ivf_build_s": "s", "operators.ivf_probe_s": "s",
    "operators.ivf_scored_per_hit": "ratio", "operators.nb_model_build_s": "s",
    "operators.lake_publish_s": "s", "operators.shingle_index_files": "count",
    "operators.lake_files": "count", "operators.lake_versions": "count",
    "operators.shingle_compact_s": "s", "operators.lake_maintain_s": "s",
    "operators.bytes_rewritten": "B",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_s": "s", "streaming.planning_s": "s",
    "streaming.rows_per_epoch": "count",
    "trace.overhead": "ratio", "trace.op_self_s": "s",
}


def setup_s(raw, t0):
    """Process start to first timed op, with the repeated set-up phase
    counted once at its median."""
    reps = raw["setup_reps_s"]
    total = raw["first_op_ms"] / 1000.0 - t0
    return total - sum(reps) + m.median(reps)


def _lat(raw, bad):
    return m.op_latencies(raw["ops"], bad)


def end_to_end(raw, bad, t0):
    lat = _lat(raw, bad)
    n_ok = sum(1 for x in lat if x != float("inf"))
    vals = {
        "setup_s": setup_s(raw, t0),
        "op_p50_s": m.median(lat),
        "items_per_s": raw["items_per_op"] * n_ok / raw["window_s"],
    }
    return {k: m.metric(v, E2E_UNITS[k]) for k, v in vals.items()}


def detail(raw, bad, t0, notes):
    lat = _lat(raw, bad)
    out = {"workload": raw["workload"], "ops": len(lat),
           "fail_ratio": m.fail_ratio(len(lat), len([x for x in lat if x == float("inf")])),
           "rss_peak_mb": raw["rss_peak_mb"],
           "setup_reps_s": raw["setup_reps_s"],
           "session_s": (raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1000.0,
           "warmup_lat_s": raw["warmup_lat_s"],
           "finish_s": raw["finish_s"], "functions_s": raw["functions_s"],
           "op_lat_s": [o["lat_s"] for o in raw["ops"]],
           "mismatches": notes.get("mismatches", [])}
    t = m.tail(lat)
    out["op_tail"] = {"p": t[0], "s": t[1]} if t else "omitted: too few ops"
    if raw["workload"] == "rag_qa":
        out["ann_recall_at_5"] = notes.get("ann_recall_at_5")
    if raw["workload"] == "ingest_serve":
        reads = [r for o in raw["ops"] for r in o["reads"]]
        out["read_p50_s"] = m.median(reads)
        t = m.tail(reads)
        out["read_tail"] = {"p": t[0], "s": t[1]} if t else "omitted: too few reads"
        c = raw["check"]
        out["write_amp"] = c["write_bytes"] / c["text_bytes"]
        out["space_amp"] = c["space_bytes"] / c["text_bytes"]
    return out


def per_layer(raw, bad):
    """Medians over the traced ops (odd op indices) of each layer
    figure; set-up figures are medians over the set-up repetitions.
    A layer the workload does not exercise reads 0."""
    tr = raw["trace_record"]
    spans, ex = tr["spans"], tr["exec"]
    traced = [o["i"] for o in raw["ops"] if o["traced"] and o["ok"] and o["i"] not in bad]
    lat = {o["i"]: o["lat_s"] for o in raw["ops"]}
    per_op = m.exec_per_op(spans, ex, traced)
    self_t = m.self_times(spans)

    def med(xs):
        return m.median(xs) if xs else 0.0

    def span_med(name):
        return med(m.span_totals(spans, traced, name))

    def setup_med(name):
        xs = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
              if s["op"] == -1 and s["name"] == name]
        return med(xs)

    def ex_med(key, scale=1.0):
        return med([x.get(key, 0) * scale for x in per_op])

    # jobs attributed to "queries.build" spans ran while the DataFrame was built
    build_jobs = {o: 0 for o in traced}
    for s in spans:
        if s["name"] == "queries.build" and s["op"] in build_jobs:
            build_jobs[s["op"]] += ex.get(str(s["id"]), {}).get("jobs", 0)
    # vectors the engine's IVF probe join scored, per hit it returned
    scored = m.subtree_exec(spans, ex, traced, "operators.ivf_probe", "join_rows")
    hits = {o["i"]: len(o["payload"].get("dense", [])) for o in raw["ops"]}
    per_hit = [s / hits[o] for s, o in zip(scored, traced) if hits[o]]
    run_s = [x.get("run_ms", 0) / 1000.0 for x in per_op]
    busy = [r / (lat[o] * raw["cores"]) for r, o in zip(run_s, traced)]

    st = [p for p in tr["streaming"] if p["op"] in set(traced)]

    def stream_med(key):
        return med([p["duration_ms"].get(key, 0) / 1000.0 for p in st])

    cnt = raw.get("counters", {})
    ops_c = [c for c in cnt.get("per_op", []) if c["op"] in set(traced)]
    maint = cnt.get("maintenance", [])
    funcs = raw.get("functions", {})
    vals = {
        "sources.scan_bytes": ex_med("input_bytes"),
        "sources.scan_files": ex_med("files_read"),
        "sources.mirror_s": setup_med("sources.mirror"),
        "functions.tokens_ns_per_doc": funcs.get("tokens_ns_per_doc", 0.0),
        "functions.hashed_grams_ns_per_doc": funcs.get("hashed_grams_ns_per_doc", 0.0),
        "functions.minhash_ns_per_doc": funcs.get("minhash_ns_per_doc", 0.0),
        "functions.dot_ns_per_pair": funcs.get("dot_ns_per_pair", 0.0),
        "queries.build_s": span_med("queries.build"),
        "queries.build_jobs": med(list(build_jobs.values())),
        "queries.bm25_s": span_med("queries.bm25"),
        "queries.context_s": span_med("queries.context"),
        "plans.analysis_s": ex_med("analysis_ms", 1e-3),
        "plans.optimizer_s": ex_med("optimizer_ms", 1e-3),
        "plans.planning_s": ex_med("planning_ms", 1e-3),
        "plans.exchanges": ex_med("exchanges"),
        "plans.reused_exchanges": ex_med("reused_exchanges"),
        "plans.scans": ex_med("scans"),
        "plans.broadcasts": ex_med("broadcasts"),
        "exec.action_s": span_med("exec.action"),
        "exec.jobs": ex_med("jobs"),
        "exec.stages": ex_med("stages"),
        "exec.tasks": ex_med("tasks"),
        "exec.shuffle_write_bytes": ex_med("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": ex_med("shuffle_read_bytes"),
        "exec.spill_bytes": ex_med("spill_bytes"),
        "exec.cpu_s": ex_med("cpu_ns", 1e-9),
        "exec.run_s": ex_med("run_ms", 1e-3),
        "exec.gc_s": ex_med("gc_ms", 1e-3),
        "exec.sched_delay_s": ex_med("sched_ms", 1e-3),
        "exec.core_busy": med(busy),
        "operators.ivf_build_s": setup_med("operators.ivf_build"),
        "operators.ivf_probe_s": span_med("operators.ivf_probe"),
        "operators.ivf_scored_per_hit": med(per_hit),
        "operators.nb_model_build_s": setup_med("operators.nb_model_build"),
        "operators.lake_publish_s": span_med("operators.lake_publish"),
        "operators.shingle_index_files": med([c["shingle_index_files"] for c in ops_c]),
        "operators.lake_files": med([c["lake_files"] for c in ops_c]),
        "operators.lake_versions": med([c["lake_versions"] for c in ops_c]),
        "operators.shingle_compact_s": med([x["compact_s"] for x in maint]),
        "operators.lake_maintain_s": med([x["maintain_s"] for x in maint]),
        "operators.bytes_rewritten": med([x["bytes_rewritten"] for x in maint]),
        "streaming.trigger_s": stream_med("triggerExecution"),
        "streaming.add_batch_s": stream_med("addBatch"),
        "streaming.wal_s": stream_med("walCommit"),
        "streaming.planning_s": stream_med("queryPlanning"),
        "streaming.rows_per_epoch": med([p["rows"] for p in st]),
        "trace.overhead": m.trace_overhead(raw["ops"]),
        "trace.op_self_s": med([self_t[s["id"]] for s in spans
                                if s["name"] == "op" and s["op"] in set(traced)]),
    }
    return {k: m.metric(float(v), LAYER_UNITS[k]) for k, v in vals.items()}
