"""Metric names, units, and the per-layer numbers of a traced run.

Per-layer times and counts are per completed timed operation (a day
or a query-mix call), so they compare across runs that
fit different numbers of operations into the same seconds.
"""

from __future__ import annotations

from perfbench.trace import LAYERS, SPARK_COUNTERS

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "queries_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "storage_amp": "ratio",
    "peak_rss_mb": "MB",
}

# per-layer time spent in calls, summed per operation: span name -> metric
SPAN_METRICS = {
    "pipelines.transform": "pipelines.transform_s",
    "pipelines.batch_load": "pipelines.batch_load_s",
    "functions.crypto": "functions.crypto_s",
    "operators.dq": "operators.dq_s",
    "streaming.dq_sink": "streaming.dq_sink_s",
    "sources.scd2_merge": "sources.scd2_merge_s",
    "sources.read": "sources.read_s",
    "sources.bloom_lookup": "sources.bloom_lookup_s",
    "sources.change_feed": "sources.change_feed_s",
    "queries.build": "queries.build_s",
    "queries.relational.exec": "queries.relational.exec_s",
    "queries.llm.exec": "queries.llm.exec_s",
}

_COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_bytes": "B",
    "driver_only_s": "s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    **{m: "s" for m in SPAN_METRICS.values()},
    "sources.merge_files_rewritten": "count",
    "sources.merge_files_untouched": "count",
    "sources.merge_prune_ratio": "ratio",
    "sources.commits": "count",
    "sources.log_versions": "count",
    "sources.bytes_written": "B",
    "sources.write_amp": "ratio",
    **{f"{layer}.{c}": _COUNTER_UNITS[c] for layer in LAYERS for c in SPARK_COUNTERS},
}

UNITS = {**E2E_UNITS, **PER_LAYER_UNITS}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(wl, tracer, log) -> dict[str, float]:
    n = max(1, len(log.latencies))
    counts = wl.counts
    m: dict[str, float] = {
        "session.start_s": sum(tracer.durations("session.start", "setup")),
        "catalog.load_s": sum(tracer.durations("catalog.load", "setup")),
    }
    for span, metric in SPAN_METRICS.items():
        m[metric] = sum(tracer.durations(span)) / n
    rewritten = counts.get("rewritten", 0)
    untouched = counts.get("untouched", 0)
    m["sources.merge_files_rewritten"] = rewritten / n
    m["sources.merge_files_untouched"] = untouched / n
    m["sources.merge_prune_ratio"] = _ratio(untouched, rewritten + untouched)
    m["sources.commits"] = counts.get("commits", 0) / n
    m["sources.log_versions"] = float(wl.log_versions()) if hasattr(wl, "log_versions") else 0.0
    m["sources.bytes_written"] = counts.get("bytes_written", 0) / n
    m["sources.write_amp"] = _ratio(counts.get("bytes_written", 0), counts.get("input_bytes", 0))
    for layer in LAYERS:
        for c in SPARK_COUNTERS:
            m[f"{layer}.{c}"] = tracer.layer[layer][c] / n
    return m
