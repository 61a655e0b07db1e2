"""Metric names and units, shared by the runner, its tests and
``BENCHMARK.json``."""

from __future__ import annotations

from perfbench.wl_batch import QUERIES

# every workload reports every one of these with --trace 0
END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "work_per_s": "1/s",
}

# every workload reports every one of these with --trace 1; a layer the
# workload does not exercise reads 0
PER_LAYER = {
    "session.get_spark_s": "s",
    "jvm.peak_rss_mb": "MB",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "checkpointing.stage_checkpoint_calls": "count",
    "checkpointing.stage_checkpoint_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_out": "bytes",
    "spark.python_bytes_in": "bytes",
    "spark.jobs_unattributed": "count",
    "search.jobs_per_request": "count",
    "search.rows_scanned_per_result": "ratio",
    "search.p50_ms": "ms",
    "search.p95_ms": "ms",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.query_planning_s": "s",
    "stream.lsh_dedup_s": "s",
    "stream.scd_sink_s": "s",
    "stream.batch_growth_ratio": "ratio",
    "stream.bytes_written_per_input_byte": "ratio",
    "stream.files_written": "count",
    "batch.floor_wall_s": "s",
    "batch.data_wall_s": "s",
    **{f"q.{q}.{m}": u for q in QUERIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "trace.overhead_frac": "fraction",
}
