"""Turns a harness record (raw.json) plus the oracle verdicts into the
end-to-end and per-layer metrics."""
from bench import stats

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "live_heap_mb": "MB",
}

LAYER_UNITS = {
    "tables.resolve_ms": "ms",
    "operators.build_ms": "ms",
    "planner.analysis_ms": "ms",
    "planner.optimization_ms": "ms",
    "planner.planning_ms": "ms",
    "exec.action_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "framestore.persisted": "count",
    "framestore.scans": "count",
    "framestore.reuse_ratio": "ratio",
    "framestore.cached_bytes": "bytes",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p99": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.idle_frac": "fraction",
    "statestore.commit_ms": "ms",
    "statestore.update_ms": "ms",
    "statestore.rows_total": "count",
    "statestore.memory_bytes": "bytes",
    "sink.write_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.heap_peak_mb": "MB",
}


def _offset(v):
    return 0 if v in (None, "null") else int(str(v).strip())


def accounting(raw, verdicts):
    """(attempted, failed, failure reasons, latencies of the operations
    that succeeded). `verdicts` maps (query, result hash) to None when the
    result equals the oracle, else the reason."""
    if raw["workload"] == "alert_stream":
        return _stream_accounting(raw, verdicts)
    ok, reasons = [], []
    for op in raw["ops"]:
        why = op["error"] or verdicts.get((op["name"], op["result"]))
        if why:
            reasons.append(f"{op['name']}: {why}")
        else:
            ok.append(op["ms"])
    return len(raw["ops"]), len(reasons), reasons, ok


def _stream_accounting(raw, verdicts):
    rate, start = raw["rate"], raw["start_ms"]
    w0, w1 = raw["window_ms"]
    first = int((w0 - start) * rate // 1000)
    end = int((w1 - start) * rate // 1000)
    attempted = end - first
    lat = []
    for p in _batches(raw):
        ret = raw["sink_return_ms"].get(str(p["batch"]))
        lo = max(first, _offset(p["start_offset"]) * rate)
        hi = min(end, _offset(p["end_offset"]) * rate)
        if ret is not None and hi > lo:
            lat += stats.batch_latencies_ms(lo, hi, ret, start, rate)
    reasons = []
    if raw["stream_error"]:
        reasons.append(f"stream failed: {raw['stream_error']}")
    why = verdicts.get(("alert_stream", raw["result_key"]))
    if why:
        reasons.append(f"routed alerts differ from the oracle: {why}")
    if reasons:
        return attempted, attempted, reasons, []
    missing = attempted - len(lat)
    if missing:
        reasons.append(f"{missing} events not committed by the drain deadline")
    return attempted, missing, reasons, lat


def _batches(raw, name="alert_stream"):
    return sorted((p for p in raw["progress"] if p["name"] == name),
                  key=lambda p: p["batch"])


def end_to_end(raw, latencies):
    """({metric: value}, {workload-specific name: (value, unit)})."""
    w = raw["workload"]
    m = {"setup_s": stats.median(raw["setup_s"]),
         "live_heap_mb": raw["live_heap_mb"]}
    n = len(latencies)
    if not latencies:
        latencies = [float("nan")]
    m["latency_p50_ms"] = stats.nearest_rank(latencies, 50)
    if w == "alert_stream":
        tail_p, m["latency_tail_ms"] = 99, stats.nearest_rank(latencies, 99)
        w0 = raw["window_ms"][0]
        rets = [raw["sink_return_ms"][str(p["batch"])] for p in _batches(raw)
                if str(p["batch"]) in raw["sink_return_ms"]
                and _offset(p["end_offset"]) * 1000 > w0 - raw["start_ms"]]
        span_s = (max(rets) - w0) / 1000.0 if rets else float("nan")
        m["throughput_per_s"] = n / span_s
        named = {"event_to_alert_p50_ms": (m["latency_p50_ms"], "ms"),
                 "event_to_alert_p99_ms": (m["latency_tail_ms"], "ms"),
                 "events_per_s": (m["throughput_per_s"], "1/s")}
    else:
        tail_p, m["latency_tail_ms"] = stats.tail(latencies)
        m["throughput_per_s"] = n / raw["wall_s"]
        named = {"request_p50_ms": (m["latency_p50_ms"], "ms"),
                 f"request_tail_ms(p{tail_p},n={n})": (m["latency_tail_ms"], "ms"),
                 "requests_per_s": (m["throughput_per_s"], "1/s")}
    named.update({"setup_s": (m["setup_s"], "s"),
                  "live_heap_mb": (m["live_heap_mb"], "MB")})
    return m, named


def _descendants(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(span_id):
        out, todo = [], list(kids.get(span_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s["id"], [])
        return out
    return kids, under


def _dur(s):
    return s["t1"] - s["t0"]


def layers(raw):
    """Every per-layer metric; 0 for a layer the workload does not use."""
    spans = raw.get("spans", [])
    _, under = _descendants(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    med = lambda xs: stats.median(xs, 0.0)
    out = {k: 0.0 for k in LAYER_UNITS}

    out["tables.resolve_ms"] = med([_dur(s) for s in by_name.get("tables.resolve", [])])
    out["operators.build_ms"] = med([_dur(s) for s in by_name.get("operators.build", [])])
    out["exec.action_ms"] = med([_dur(s) for s in by_name.get("exec.action", [])])
    ops = [o for o in raw.get("ops", []) if not o["error"]]
    for phase in ("analysis", "optimization", "planning"):
        out[f"planner.{phase}_ms"] = med([o["planner"].get(phase, 0) for o in ops])

    # stage metrics, summed per request; for the stream, per micro-batch
    stages = by_name.get("exec.stage", [])
    op_spans = by_name.get("request", [])
    if op_spans:
        groups = [[c for c in under(o["id"]) if c["name"] == "exec.stage"]
                  for o in op_spans]
    else:  # the stream: the run's stages spread over its micro-batches
        n = max(1, len(_batches(raw)))
        groups = [[dict(s, scale=1.0 / n) for s in stages]]
    for key, tag in [("exec.task_run_ms", "task_run_ms"),
                     ("exec.task_cpu_ms", "task_cpu_ms"),
                     ("exec.gc_ms", "gc_ms"),
                     ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                     ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
                     ("exec.spill_bytes", "spill_bytes")]:
        out[key] = med([sum(s["tags"].get(tag, 0) * s.get("scale", 1.0) for s in g)
                        for g in groups])
    out["exec.stages"] = med([sum(s.get("scale", 1.0) for s in g) for g in groups])
    out["exec.tasks"] = med([sum(s["tags"].get("tasks", 0) * s.get("scale", 1.0)
                                 for s in g) for g in groups])
    out["exec.task_skew"] = max([s["tags"].get("skew", 1.0) for s in stages
                                 if s["tags"].get("tasks", 0) > 1], default=0.0)

    cache = raw.get("cache", {})
    out["framestore.persisted"] = cache.get("persisted", 0)
    out["framestore.cached_bytes"] = cache.get("cached_bytes", 0)
    out["framestore.scans"] = sum(o.get("cache_scans", 0) for o in ops)
    if out["framestore.persisted"]:
        out["framestore.reuse_ratio"] = out["framestore.scans"] / out["framestore.persisted"]

    progress = _batches(raw) if raw["workload"] == "alert_stream" else []
    data = [p for p in progress if p["rows"] > 0]
    if data:
        trig = [p["duration_ms"].get("triggerExecution", 0) for p in data]
        out["streaming.trigger_ms_p50"] = stats.nearest_rank(trig, 50)
        out["streaming.trigger_ms_p99"] = stats.nearest_rank(trig, 99)
        for key, part in [("streaming.add_batch_ms", "addBatch"),
                          ("streaming.planning_ms", "queryPlanning"),
                          ("streaming.latest_offset_ms", "latestOffset"),
                          ("streaming.wal_commit_ms", "walCommit"),
                          ("streaming.commit_offsets_ms", "commitOffsets")]:
            out[key] = med([p["duration_ms"].get(part, 0) for p in data])
        out["statestore.commit_ms"] = med([sum(s["commit_ms"] for s in p["state"]) for p in data])
        out["statestore.update_ms"] = med([sum(s["update_ms"] for s in p["state"]) for p in data])
        out["statestore.rows_total"] = max(sum(s["rows_total"] for s in p["state"]) for p in data)
        out["statestore.memory_bytes"] = max(sum(s["memory_bytes"] for s in p["state"]) for p in data)
    if raw["workload"] == "alert_stream":
        w0, w1 = raw["window_ms"]
        busy = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress
                   if w0 <= p["timestamp_ms"] < w1)
        out["streaming.idle_frac"] = max(0.0, 1.0 - busy / (w1 - w0))
    out["sink.write_ms"] = med([_dur(s) for s in by_name.get("sink.write", [])])

    j0, j1 = raw.get("jvm_start"), raw.get("jvm_end")
    if j0 and j1:
        out["jvm.gc_ms"] = j1["gc_ms"] - j0["gc_ms"]
        out["jvm.heap_peak_mb"] = j1["heap_peak_bytes"] / 2 ** 20
    return out


def self_times(raw):
    """Median self time (ms) per span name over the run."""
    spans = raw.get("spans", [])
    kids, _ = _descendants(spans)
    per = {}
    for s in spans:
        per.setdefault(s["name"], []).append(stats.self_ms(s, kids.get(s["id"], [])))
    return {k: stats.median(v) for k, v in sorted(per.items())}
