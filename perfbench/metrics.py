"""Per-layer metrics a traced run reports, with their units.

Every traced run reports every name; a layer a workload does not reach
reads 0. ``BENCHMARK.json`` lists the same names.
"""

from __future__ import annotations

#: spans whose Spark jobs the event log attributes task metrics to
TASK_SPANS = (
    "operators.pattern", "operators.sliding", "operators.tumbling",
    "operators.enrich", "tables.dml",
    "datapipe.signatures", "datapipe.lsh_pairs", "datapipe.clusters",
    "datapipe.pack",
)
TASK_UNITS = {
    "shuffle_write_bytes": "bytes",
    "spill_disk_bytes": "bytes",
    "executor_run_s": "s",
    "gc_s": "s",
}
LAYERS = (
    "session", "plans", "sources", "streaming", "persistence",
    "operators", "tables", "datapipe", "loadgen",
)
REPLAY_OUTPUTS = ("Funnels", "Activity", "Rollup", "Enriched", "UserSpend")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.parse_s": "s",
    "plans.compile_s": "s",
    "sources.offset_ms": "ms",
    "sources.backlog_events_max": "count",
    "sources.rows_per_batch": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.saturated_eps": "1/s",
    "persistence.wal_commit_ms": "ms",
    "persistence.state_commit_ms": "ms",
    "persistence.checkpoint_bytes": "bytes",
    "operators.pattern_s": "s",
    "operators.sliding_s": "s",
    "operators.tumbling_s": "s",
    "operators.enrich_s": "s",
    **{f"operators.rows_out.{o}": "count" for o in REPLAY_OUTPUTS},
    "tables.dml_s": "s",
    "tables.dim_load_s": "s",
    "datapipe.signatures_s": "s",
    "datapipe.lsh_pairs_s": "s",
    "datapipe.clusters_s": "s",
    "datapipe.pack_s": "s",
    "datapipe.verified_pairs": "count",
    "datapipe.clusters": "count",
    **{f"{s}.{f}": u for s in TASK_SPANS for f, u in TASK_UNITS.items()},
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "loadgen.lag_ms_max": "ms",
    "loadgen.latency_samples": "count",
    "loadgen.sustained_rung_eps": "1/s",
    "loadgen.rung0_p99_ms": "ms",
    "loadgen.rung1_p99_ms": "ms",
    "loadgen.rung2_p99_ms": "ms",
    "trace.tracer_own_s": "s",
    "trace.setup_s": "s",
    "trace.latency_p50_ms": "ms",
    "trace.throughput_per_s": "1/s",
    "trace.throughput_per_cpu_s": "1/cpu-s",
}
