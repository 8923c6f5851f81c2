"""Turn one run's raw measurements into the benchmark's named metrics.

The JVM side (``perfbench.Main``) writes samples, per-batch progress and
counters; everything that is a percentile or a ratio is derived here, so
one percentile rule serves every metric.
"""

import statistics

# unit of every end-to-end metric, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "tweets_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "live_heap_mb": "MB",
}

PER_LAYER = {
    "sources.latest_offset_ms": "ms",
    "sources.admission_lag_ms_p99": "ms",
    "sources.backlog_rows_max": "count",
    "sources.rows_per_batch": "count",
    "streaming.batches": "count",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p99": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.busy_ratio": "ratio",
    "state.rows_total_max": "count",
    "state.rows_total_end": "count",
    "state.memory_bytes_max": "bytes",
    "state.commit_ms_p50": "ms",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.checkpoint_files": "count",
    "state.checkpoint_bytes": "bytes",
    "fanin.complete_emits": "count",
    "fanin.timeout_emits": "count",
    "fanin.orphan_purges": "count",
    "fanin.timeout_ratio": "ratio",
    "operators.parse_ms": "ms",
    "operators.ner_ms": "ms",
    "operators.resolve_ms": "ms",
    "operators.geo_ms": "ms",
    "operators.events_ms": "ms",
    "operators.parse_drop_ratio": "ratio",
    "jobs.count": "count",
    "jobs.tasks": "count",
    "jobs.executor_run_ms": "ms",
    "jobs.executor_cpu_ms": "ms",
    "jobs.driver_gap_ms": "ms",
    "jobs.shuffle_read_bytes": "bytes",
    "jobs.shuffle_write_bytes": "bytes",
    "jobs.spill_bytes": "bytes",
    "jobs.task_skew": "ratio",
    "jvm.gc_ms": "ms",
    "sinks.tsv_write_ms": "ms",
    "sinks.json_write_ms": "ms",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "functions.sketch_ms": "ms",
    "plans.admit_ms": "ms",
    "plans.append_commit_ms": "ms",
    "plans.commit_conflicts": "count",
    "plans.versions": "count",
    "plans.files_live": "count",
    "plans.manifest_bytes": "bytes",
    "plans.admit_ratio": "ratio",
    "fs.create_calls": "count",
    "fs.rename_calls": "count",
    "fs.delete_calls": "count",
    "fs.mkdirs_calls": "count",
    "fs.list_calls": "count",
    "fs.status_calls": "count",
    "fs.calls_per_batch": "count",
    "fs.calls_per_commit": "count",
    "fs.calls_per_commit_slope": "count",
    "self.sources_ms": "ms",
    "self.streaming_ms": "ms",
    "self.sinks_ms": "ms",
    "self.operators_ms": "ms",
    "self.functions_ms": "ms",
    "self.plans_ms": "ms",
    "self.jobs_ms": "ms",
    "trace.spans": "count",
    "trace.tweets_per_s": "1/s",
    "trace.latency_p50_ms": "ms",
}

LADDER = (50.0, 90.0, 99.0, 99.9)


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n):
    """Highest percentile of LADDER with at least ten samples beyond it,
    or None when even the median has fewer than ten above it."""
    best = None
    for p in LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10.0:
            best = p
    return best


STREAMS = ("neel-stream", "fanin-stream")


def _pct(xs, q):
    return percentile(xs, q) if xs else None


def _measured(series, key, first, last):
    ids = series.get("progress.batch_id", [])
    return [v for b, v in zip(ids, series.get(key, [])) if first <= b <= last]


def end_to_end(workload, raw, setup_s):
    """The end-to-end metrics of one untraced run, with the sample count
    behind each percentile: {name: (value, samples)}.  A metric whose
    samples the run did not produce (it aborted or lagged) is left out."""
    s, v = raw["series"], raw["values"]
    lat = s.get("latency_ms", [])
    out = {"setup_s": (setup_s, 1)}
    if workload in STREAMS:
        if v.get("tweets_per_s.span_ms"):
            out["tweets_per_s"] = (
                v["tweets_per_s.rows"] / (v["tweets_per_s.span_ms"] / 1000.0), 1)
    elif v.get("tweets") and v.get("window_s"):
        out["tweets_per_s"] = (v["tweets"] / v["window_s"], 1)
    if lat:
        out["latency_p50_ms"] = (percentile(lat, 50), len(lat))
        out["latency_p99_ms"] = (percentile(lat, 99), len(lat))
    if "live_heap_mb" in v:
        out["live_heap_mb"] = (v["live_heap_mb"], 1)
    return out


def per_layer(workload, raw):
    """Per-layer metrics of one traced run; a layer the workload does not
    reach, or whose samples the run did not produce, reports 0."""
    s, v = raw["series"], raw["values"]
    out = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        if k in v:
            out[k] = float(v[k])
    got = {}
    if workload in STREAMS:
        first = v.get("measured_first_batch", 0)
        last = v.get("measured_last_batch", -1)
        m = lambda key: _measured(s, key, first, last)  # noqa: E731
        trig = m("progress.triggerExecution")
        rows = s.get("progress.input_rows", [])
        total = s.get("progress.state_rows_total", [])
        got["sources.latest_offset_ms"] = sum(s.get("progress.latestOffset", []))
        got["sources.admission_lag_ms_p99"] = _pct(s.get("sources.admission_lag_ms"), 99)
        got["sources.backlog_rows_max"] = max(s.get("sources.backlog_rows", []), default=None)
        admitted = m("progress.input_rows")
        got["sources.rows_per_batch"] = statistics.mean(admitted) if admitted else None
        got["streaming.batches"] = len(s.get("progress.triggerExecution", []))
        got["streaming.empty_batch_ratio"] = \
            sum(1 for r in rows if r == 0) / len(rows) if rows else None
        got["streaming.trigger_ms_p50"] = _pct(trig, 50)
        got["streaming.trigger_ms_p99"] = _pct(trig, 99)
        for key, name in (("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                          ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
            got[f"streaming.{name}"] = _pct(m(f"progress.{key}"), 50)
        if v.get("window_s"):
            got["streaming.busy_ratio"] = sum(trig) / (1000.0 * v["window_s"])
        got["state.rows_total_max"] = max(total, default=None)
        got["state.rows_total_end"] = total[-1] if total else None
        got["state.memory_bytes_max"] = max(s.get("progress.state_memory_bytes", []),
                                            default=None)
        got["state.commit_ms_p50"] = _pct(m("progress.state_commit_ms"), 50)
        got["state.rows_updated"] = sum(m("progress.state_rows_updated"))
        got["state.rows_removed"] = sum(s.get("progress.state_rows_removed", []))
        per_batch = s.get("fs.batch_calls", [])
        if per_batch:
            got["fs.calls_per_batch"] = statistics.mean(per_batch)
            got["fs.calls_per_commit"] = statistics.mean(per_batch)
            got["fs.calls_per_commit_slope"] = _slope(per_batch)
    else:
        got["plans.admit_ms"] = _pct(s.get("plans.admit_ms"), 50)
        got["plans.append_commit_ms"] = _pct(s.get("plans.append_commit_ms"), 50)
        got["functions.sketch_ms"] = _pct(s.get("functions.sketch_ms"), 50)
        per_commit = s.get("fs.commit_calls", [])
        if per_commit:
            got["fs.calls_per_commit"] = statistics.mean(per_commit)
            got["fs.calls_per_commit_slope"] = _slope(per_commit)
        per_batch = s.get("fs.batch_calls", [])
        if per_batch:
            got["fs.calls_per_batch"] = statistics.mean(per_batch)
    for layer in ("sources", "streaming", "sinks", "operators", "functions", "plans", "jobs"):
        got[f"self.{layer}_ms"] = float(v.get(f"self.{layer}", 0.0))
    e2e = end_to_end(workload, raw, 0.0)
    for name in ("tweets_per_s", "latency_p50_ms"):
        got[f"trace.{name}"] = e2e[name][0] if name in e2e else None
    out.update((k, float(x)) for k, x in got.items() if x is not None)
    return out


def _slope(ys):
    """Least-squares growth of ys per step (0 for fewer than 2 points)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = statistics.mean(ys)
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den
