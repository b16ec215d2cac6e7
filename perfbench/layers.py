"""Metric names, units and directions, the layer -> end-to-end map, and
the per-layer figures shared by the streaming workloads.

BENCHMARK.json lists the same metrics (test_perfbench checks that the
two agree); its fixed key set has no room for the map, so it lives here
and the traced run prints it.
"""

from __future__ import annotations

from perfbench import common

WORKLOADS = {
    "tcp_relay": "dsp_tcp socket -> parse -> 3-rule route -> one parquet sink: the only path through sources/tcp.py and the single-sink Multicast",
    "file_fanout": "parquet file source -> same parse and route -> two parquet sinks: bypasses TCP, takes the Multicast persist path",
    "stateful_fold": "Zipf events folded by cms_stream, heavy_hitters_stream (Python state) and windowed_counts (native state)",
    "catalog_mix": "12 catalog entries (TPC-H joins, vectors, dedup, windows, checkpoint chains): Catalyst planning and execution, no streaming",
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "msgs_per_s": ("1/s", "higher", 0.24),
    "latency_p50_ms": ("ms", "lower", 0.24),
    "latency_p99_ms": ("ms", "lower", 0.24),
    "peak_rss_mb": ("MB", "lower", 0.2),
}

# What each end-to-end metric means on each workload.
MEANING = {
    "setup_s": "median of 3 set-ups: session (first round only) and pipeline start to the first warm-up output in the sink; catalog_mix: a session with no cached reads to the first entry's result",
    "msgs_per_s": "input messages fully delivered per second: tcp_relay messages of the bursts over their summed drain times (burst start to its last copy in the sink), file_fanout the same over the file-set drains (first micro-batch trigger start to the last file of both sinks), stateful_fold events through all three folds; catalog_mix: rows of the entries' input tables per second of catalog_s",
    "latency_p50_ms": "tcp_relay: due time to the last copy visible in the sink, over the calm 1 s windows of the open loop pooled; file_fanout: first micro-batch trigger start to the last copy visible in both sinks (median of drains); stateful_fold: micro-batch trigger time; catalog_mix: entry wall time",
    "latency_p99_ms": "as latency_p50_ms, 99th percentile",
    "peak_rss_mb": "peak memory (summed PSS) of the driver, JVM and Python worker process tree, load generator excluded",
}

LAYER_MOVES = {
    "sources.tcp": "msgs_per_s and latency_* on tcp_relay (listener_pss_mb: peak_rss_mb there); nothing elsewhere",
    "sources.file": "msgs_per_s on file_fanout and stateful_fold",
    "operators.telemetry": "msgs_per_s on tcp_relay and file_fanout",
    "operators.router": "msgs_per_s mostly on file_fanout; nothing on catalog_mix or stateful_fold",
    "sinks.multicast": "msgs_per_s and latency_* on tcp_relay (single sink); on file_fanout only when the persist or write changes",
    "sinks.file": "msgs_per_s on tcp_relay and file_fanout, through the bytes each sink write puts out",
    "engine": "latency_p50_ms on tcp_relay (small batches, fixed cost) and setup_s everywhere; msgs_per_s on file_fanout a little",
    "streaming.metrics": "correctness signals (1.0 when exact); no timing",
    "streaming.stateful": "msgs_per_s on stateful_fold only (measured, cold, in file_fanout's traced run)",
    "catalog": "catalog_s (and so msgs_per_s, latency_*) on catalog_mix only (measured, cold and with a collecting action, in file_fanout's traced run)",
    "spark": "whether a workload is bound by fixed cost (driver_idle_ms) or execution",
    "gen": "run validity: a generator behind schedule makes the run invalid",
    "trace": "tracing cost: traced msgs_per_s against untraced",
    "scaling": "file_fanout at local[1], the single-thread baseline",
}

CATALOG_ENTRIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_supplier_volume",
    "q9_product_type_profit",
    "q18_large_orders",
    "q21_suppliers_who_kept_orders_waiting",
    "dedup_minhash_lsh_pairs",
    "ann_ivf_topk",
    "events_sessionize",
    "events_hourly_rollup",
    "dedup_clusters_incremental",
    "zorder_zvalue_audit",
)

SELF_TIME_LAYERS = ("engine", "sinks.multicast", "sinks.file", "spark", "catalog",
                    "streaming.stateful", "pipeline")

# name -> (unit, better). A layer a workload's path does not include
# reads 0 on that workload.
PER_LAYER = {
    "sources.tcp.listener_msgs_per_s": ("1/s", "higher"),
    "sources.tcp.noop_msgs_per_s": ("1/s", "higher"),
    "sources.tcp.latest_offset_ms": ("ms", "lower"),
    "sources.tcp.rows_read_ratio": ("ratio", "lower"),
    "sources.tcp.listener_pss_mb": ("MB", "lower"),
    "sources.file.noop_msgs_per_s": ("1/s", "higher"),
    "sources.file.latest_offset_ms": ("ms", "lower"),
    "sources.file.get_batch_ms": ("ms", "lower"),
    "operators.telemetry.parse_msgs_per_s": ("1/s", "higher"),
    "operators.telemetry.error_rows": ("count", "lower"),
    "operators.router.route_msgs_per_s": ("1/s", "higher"),
    "operators.router.copies_per_msg": ("ratio", "higher"),
    "operators.router.dropped_msgs": ("count", "lower"),
    "sinks.multicast.call_ms": ("ms", "lower"),
    "sinks.multicast.write_ms": ("ms", "lower"),
    "sinks.multicast.overhead_ms": ("ms", "lower"),
    "sinks.multicast.jobs_per_batch": ("count", "lower"),
    "sinks.multicast.fanout_msgs_per_s": ("1/s", "higher"),
    "sinks.file.bytes_written": ("B", "lower"),
    "engine.batches": ("count", "lower"),
    "engine.rows_per_batch_p50": ("count", "higher"),
    "engine.trigger_ms_p50": ("ms", "lower"),
    "engine.trigger_ms_p99": ("ms", "lower"),
    "engine.add_batch_ms": ("ms", "lower"),
    "engine.query_planning_ms": ("ms", "lower"),
    "engine.wal_commit_ms": ("ms", "lower"),
    "engine.commit_offsets_ms": ("ms", "lower"),
    "engine.first_batch_ms": ("ms", "lower"),
    "engine.queue_wait_ms_p50": ("ms", "lower"),
    "streaming.metrics.receive_ratio": ("ratio", "lower"),
    "streaming.metrics.sent_ratio": ("ratio", "higher"),
    "streaming.metrics.drop_total": ("count", "lower"),
    "streaming.stateful.cms_msgs_per_s": ("1/s", "higher"),
    "streaming.stateful.hh_msgs_per_s": ("1/s", "higher"),
    "streaming.stateful.window_msgs_per_s": ("1/s", "higher"),
    "streaming.stateful.state_rows": ("count", "lower"),
    "streaming.stateful.state_bytes": ("B", "lower"),
    "streaming.stateful.state_commit_ms": ("ms", "lower"),
    "catalog.catalog_s": ("s", "lower"),
    "catalog.build_ms": ("ms", "lower"),
    "catalog.build_jobs": ("count", "lower"),
    "catalog.analysis_ms": ("ms", "lower"),
    "catalog.optimization_ms": ("ms", "lower"),
    "catalog.planning_ms": ("ms", "lower"),
    "catalog.exec_ms": ("ms", "lower"),
    **{f"catalog.entry_s.{e}": ("s", "lower") for e in CATALOG_ENTRIES},
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.driver_idle_ms": ("ms", "lower"),
    "gen.late_ms_p99": ("ms", "lower"),
    "gen.offered_msgs_per_s": ("1/s", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
    **{f"trace.self_ms.{layer}": ("ms", "lower") for layer in SELF_TIME_LAYERS},
    "scaling.local1_msgs_per_s": ("1/s", "higher"),
    "failed_frac": ("ratio", "lower"),
}


def layer_of(metric: str) -> str:
    for layer in sorted(LAYER_MOVES, key=len, reverse=True):
        if metric.startswith(layer + "."):
            return layer
    return metric


# --- per-layer figures from streaming progress ---------------------------------


def engine_metrics(progress) -> dict[str, float]:
    data = [p for p in progress if p.numInputRows]
    if not data:
        return {"engine.batches": len(progress)}

    def p50(phase):
        return common.median([common.progress_ms(p, phase) for p in data])

    trig = [common.progress_ms(p, "triggerExecution") for p in data]
    return {
        "engine.batches": len(progress),
        "engine.rows_per_batch_p50": common.median([p.numInputRows for p in data]),
        "engine.trigger_ms_p50": common.percentile(trig, 50),
        "engine.trigger_ms_p99": common.percentile(trig, 99),
        "engine.add_batch_ms": p50("addBatch"),
        "engine.query_planning_ms": p50("queryPlanning"),
        "engine.wal_commit_ms": p50("walCommit"),
        "engine.commit_offsets_ms": p50("commitOffsets"),
        "engine.first_batch_ms": trig[0],
    }


def source_metrics(progress, source: str) -> dict[str, float]:
    data = [p for p in progress if p.numInputRows] or list(progress)
    out = {f"sources.{source}.latest_offset_ms": common.median(
        [common.progress_ms(p, "latestOffset") for p in data])}
    if source == "file":
        out["sources.file.get_batch_ms"] = common.median(
            [common.progress_ms(p, "getBatch") for p in data])
    return out


def multicast_metrics(tracer, jobs, n_msgs: int) -> dict[str, float]:
    """Per micro-batch means of the traced Multicast calls and their
    sink writes; Spark jobs started inside each call."""
    calls = tracer.of("sinks.multicast", "call")
    writes = tracer.of("sinks.file", "write")
    if not calls:
        return {}
    call_ms = sum(c.ms for c in calls) / len(calls)
    write_ms = sum(w.ms for w in writes) / len(calls)
    n_jobs = sum(1 for j in jobs for c in calls if c.start <= j.start_ms / 1e3 <= c.end)
    return {
        "sinks.multicast.call_ms": call_ms,
        "sinks.multicast.write_ms": write_ms,
        "sinks.multicast.overhead_ms": call_ms - write_ms,
        "sinks.multicast.jobs_per_batch": n_jobs / len(calls),
    }


def listener_metrics(pipeline, offered: int, delivered: int) -> dict[str, float]:
    c = pipeline.listener.counters
    return {
        "streaming.metrics.receive_ratio": c["receive_messages_total"] / offered,
        "streaming.metrics.sent_ratio": c["sent_messages_total"] / delivered if delivered else 0.0,
        "streaming.metrics.drop_total": c["drop_messages_total"],
    }
