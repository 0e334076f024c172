"""Reduce a harness record (the JVM's JSON) to the benchmark's metrics."""

import stats

# End-to-end metrics (tracing off), in the order BENCHMARK.json lists them.
END_TO_END = [("setup_s", "s"), ("warmup_s", "s"), ("warm_op_ms", "ms"), ("rss_peak_mb", "MB")]

# Per-layer metrics every traced run reports (engine, tracing, staging).
COMMON = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.busy_ratio", "ratio"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_records", "count"), ("spark.output_bytes", "bytes"), ("jvm.gc_s", "s"),
    ("trace.coverage", "ratio"), ("trace.overhead_ratio", "ratio"),
    ("sources.staging_s", "s"), ("sources.staging_rebuilds", "count")]
# The batch path and the dashboard loop.
SERVING = [
    ("sources.validate_s", "s"), ("cleaning.clean_s", "s"), ("cleaning.keep_ratio", "ratio"),
    ("cleanstore.lineitem_write_s", "s"), ("cleanstore.events_write_s", "s"),
    ("cleanstore.files_written", "count"), ("cleanstore.bytes_per_file", "bytes"),
    ("cleanstore.serve_ms", "ms"),
    ("feeds.write_s", "s"), ("feeds.jobs", "count"), ("feeds.files_read", "count"),
    ("params.plan_ms", "ms"), ("params.exec_ms", "ms"), ("params.jobs_per_interaction", "count"),
    ("params.tasks_per_interaction", "count"), ("params.records_read_per_interaction", "count"),
    ("params.scan_selectivity", "ratio")]
# The registry slice.
REGISTRY_MODULES = ["dedup", "similarity", "textanalysis", "graphs", "sql"]
STREAM_FIELDS = ["latest_offset_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms",
                 "commit_offsets_ms", "input_rows"]
REGISTRY = (
    [("registry.batch_s", "s"), ("registry.stream_s", "s")] +
    [(f"{m}.{k}", u) for m in REGISTRY_MODULES for k, u in
     [("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("task_s", "s"),
      ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]] +
    [("streaming.build_s", "s"), ("streaming.batches", "count")] +
    [(f"streaming.{k}", "count" if k == "input_rows" else "ms") for k in STREAM_FIELDS] +
    [("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "bytes"),
     ("streaming.state_commit_ms", "ms")])

# Columns of a `work` row and of a `progress` row, as the harness writes them.
JOBS, STAGES, TASKS, TASK_NS, SH_READ, SH_WRITE, SPILL, IN_REC, OUT_B = range(9)
P_TS, P_STATE_ROWS, P_STATE_BYTES, P_STATE_COMMIT, P_RUN = 0, 7, 8, 9, 10


# Every traced run reports all of them, 0 where its ops never enter a layer.
PER_LAYER = COMMON + SERVING + REGISTRY


def warm_untraced(rec):
    return [o for o in rec["ops"] if o["kind"] == "warm" and not o["traced"]]


def end_to_end(rec):
    """{name: (value, unit)}, plus the first op alone and the tail the warm
    sample supports (recorded, not gated: one cold op varied by a third
    between dashboard runs, the cold op and its warm-ups together by a
    tenth)."""
    warm = [o["ms"] for o in warm_untraced(rec)]
    cold = next(o["ms"] for o in rec["ops"] if o["kind"] == "cold")
    values = {"setup_s": rec["setup_s"],
              "warmup_s": sum(o["ms"] for o in rec["ops"] if o["kind"] in ("cold", "warmup")) / 1000.0,
              "warm_op_ms": stats.median(warm), "rss_peak_mb": rec["rss_hwm_kb"] / 1024.0}
    p, tail_ms = stats.tail(warm)
    return ({k: (values[k], u) for k, u in END_TO_END},
            {"cold_op_s": cold / 1000.0, "warm_ops": len(warm), "tail_percentile": p,
             "warm_tail_ms": tail_ms})


def registry_split(rec):
    """Median untraced warm pass, summed over batch and over streaming queries (s)."""
    passes = [o for o in warm_untraced(rec) if "queries" in o]
    batch = [sum(q[2] + q[3] for q in o["queries"] if q[1] != "streaming") for o in passes]
    stream = [sum(q[2] + q[3] for q in o["queries"] if q[1] == "streaming") for o in passes]
    return stats.median(batch) / 1000.0, stats.median(stream) / 1000.0


def per_layer(rec):
    """{name: (value, unit)} of a traced run, each per traced warm op that
    returned."""
    traced = [o for o in rec["ops"] if o["traced"] and "error" not in o]
    n = len(traced)
    st = stats.self_times(rec["spans"])
    work = {int(k): v for k, v in rec["work"].items()}
    m = {}

    def wsum(col, names=None):
        return sum(work.get(i, [0] * 9)[col] for i, v in st.items()
                   if names is None or v[0] in names)

    def span_s(name):   # a layer's self time per traced op
        return sum(v[3] for v in st.values() if v[0] == name) / n

    wall_s = sum(o["ms"] for o in traced) / 1000.0
    m["spark.jobs"] = wsum(JOBS) / n
    m["spark.stages"] = wsum(STAGES) / n
    m["spark.tasks"] = wsum(TASKS) / n
    m["spark.task_s"] = wsum(TASK_NS) / 1e9 / n
    m["spark.busy_ratio"] = wsum(TASK_NS) / 1e9 / (wall_s * int(rec["cpus"]))
    m["spark.shuffle_read_bytes"] = wsum(SH_READ) / n
    m["spark.shuffle_write_bytes"] = wsum(SH_WRITE) / n
    m["spark.spill_bytes"] = wsum(SPILL) / n
    m["spark.input_records"] = wsum(IN_REC) / n
    m["spark.output_bytes"] = wsum(OUT_B) / n
    m["jvm.gc_s"] = sum(o["gc_ms"] for o in traced) / 1000.0 / n
    m["trace.coverage"] = stats.coverage(rec["spans"])
    m["trace.overhead_ratio"] = (stats.median([o["ms"] for o in traced]) /
                                 stats.median([o["ms"] for o in warm_untraced(rec)]) - 1.0)
    m["sources.staging_s"] = rec["setup_staging_s"] + rec["cold_staging_s"]
    m["sources.staging_rebuilds"] = rec["timed_rebuilds"]
    m.update({k: 0.0 for k, _ in PER_LAYER if k not in m})
    chk = rec["checks"]
    w = rec["workload"]
    if w == "pipeline":
        m["sources.validate_s"] = span_s("sources.validate")
        m["cleaning.clean_s"] = span_s("cleaning.clean")
        acc = traced[-1]["accounting"]
        m["cleaning.keep_ratio"] = acc["rows_out"] / acc["rows_in"]
        m["cleanstore.lineitem_write_s"] = span_s("cleanstore.lineitem_write")
        m["cleanstore.events_write_s"] = span_s("cleanstore.events_write")
        files = sum(v[0] for v in chk["files"].values())
        m["cleanstore.files_written"] = files
        m["cleanstore.bytes_per_file"] = sum(v[1] for v in chk["files"].values()) / files
        m["feeds.write_s"] = span_s("feeds.write")
        m["feeds.jobs"] = wsum(JOBS, {"feeds.write"}) / n
        # the feeds scan the clean lineitem twice (top_parts, histogram) and
        # the clean events four times: counted from the files written
        m["feeds.files_read"] = (2 * chk["files"]["clean_lineitem"][0] +
                                 4 * chk["files"]["clean_events"][0])
    elif w == "dashboard":
        inside = {"cleanstore.serve", "params.plan", "params.exec"}
        m["cleanstore.serve_ms"] = span_s("cleanstore.serve") * 1000
        m["params.plan_ms"] = span_s("params.plan") * 1000
        m["params.exec_ms"] = span_s("params.exec") * 1000
        m["params.jobs_per_interaction"] = wsum(JOBS, inside) / n
        m["params.tasks_per_interaction"] = wsum(TASKS, inside) / n
        read = wsum(IN_REC, inside) / n
        m["params.records_read_per_interaction"] = read
        # five charts scan the pruned files each: one scan's worth is read / 5
        matching = sum(o["matching"] for o in traced) / n
        m["params.scan_selectivity"] = matching / (read / 5) if read else 0.0
    else:
        for mod in REGISTRY_MODULES:
            b, e = f"{mod}.build", f"{mod}.exec"
            m[f"{mod}.build_s"] = span_s(b)
            m[f"{mod}.build_jobs"] = wsum(JOBS, {b}) / n
            m[f"{mod}.exec_s"] = span_s(e)
            m[f"{mod}.task_s"] = wsum(TASK_NS, {b, e}) / 1e9 / n
            m[f"{mod}.shuffle_bytes"] = (wsum(SH_READ, {b, e}) + wsum(SH_WRITE, {b, e})) / n
            m[f"{mod}.spill_bytes"] = wsum(SPILL, {b, e}) / n
        # streaming gates run their stream inside the registry function
        m["streaming.build_s"] = span_s("streaming.build") + span_s("streaming.exec")
        windows = [o["wall"] for o in traced]
        prog = [p for p in rec["progress"] if any(a <= p[P_TS] <= b for a, b in windows)]
        m["streaming.batches"] = len(prog) / n
        for i, k in enumerate(STREAM_FIELDS):
            m[f"streaming.{k}"] = sum(p[1 + i] for p in prog) / n
        peak = {}
        for p in prog:   # state size: each streaming run's peak, summed
            r = peak.setdefault(p[P_RUN], [0, 0])
            r[0], r[1] = max(r[0], p[P_STATE_ROWS]), max(r[1], p[P_STATE_BYTES])
        m["streaming.state_rows"] = sum(r[0] for r in peak.values()) / n
        m["streaming.state_memory_bytes"] = sum(r[1] for r in peak.values()) / n
        m["streaming.state_commit_ms"] = sum(p[P_STATE_COMMIT] for p in prog) / n
        m["registry.batch_s"], m["registry.stream_s"] = registry_split(rec)
    return {k: (m[k], u) for k, u in PER_LAYER}
