"""Names, units and directions of every reported metric. BENCHMARK.json
lists the same names (perfbench/tests/test_contract.py keeps them in
step)."""

from __future__ import annotations

#: untraced runs; every workload reports every one
END_TO_END = {
    "setup_s": ("s", "lower"),
    "meta_ms": ("ms", "lower"),
    "select_ms": ("ms", "lower"),
    "requests_per_s": ("1/s", "higher"),
}

#: traced runs. The first group comes from the run's untraced phase
#: (class figures that are not end-to-end metrics of every workload),
#: the rest from its traced phase. A figure a workload does not have
#: (an insert latency in serve_read), or a tail with fewer than ten
#: samples beyond it, reads 0.
PER_LAYER = {
    "meta_ms_p50": ("ms", "lower"),
    "meta_ms_tail": ("ms", "lower"),
    "select_ms_p50": ("ms", "lower"),
    "export_ms_p50": ("ms", "lower"),
    "insert_ms_p50": ("ms", "lower"),
    "insert_ms_tail": ("ms", "lower"),
    "ingest_points_per_s": ("points/s", "higher"),
    "bytes_per_point": ("B", "lower"),
    "failed_ratio": ("1", "lower"),
    "parser.parse_ms": ("ms", "lower"),
    "engine.plan_ms": ("ms", "lower"),
    "engine.insert_ms": ("ms", "lower"),
    "engine.maintain_ms": ("ms", "lower"),
    "spark.action_ms": ("ms", "lower"),
    "spark.jobs_per_select": ("count", "lower"),
    "spark.tasks_per_select": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.task_skew": ("1", "lower"),
    "store.catalog_snapshot_loads": ("count", "lower"),
    "store.snapshot_loads_per_insert": ("count", "lower"),
    "store.read_catalog_local_ms": ("ms", "lower"),
    "store.rollup_reads": ("count", "higher"),
    "store.points_reads": ("count", "lower"),
    "store.stale_shard_reads": ("count", "lower"),
    "store.rollup_share": ("1", "higher"),
    "store.catalog_compactions": ("count", "lower"),
    "store.append_local_ms": ("ms", "lower"),
    "store.catalog_delta_files": ("count", "lower"),
    "store.shard_files": ("count", "lower"),
    "store.optimize_ms": ("ms", "lower"),
    "store.build_rollup_ms": ("ms", "lower"),
    "qpack.pack_ms": ("ms", "lower"),
    "qpack.unpack_ms": ("ms", "lower"),
    "qpack.bytes": ("B", "lower"),
    "clserver.overhead_ms": ("ms", "lower"),
    "http.overhead_ms": ("ms", "lower"),
    "trace.spans": ("count", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
