"""Metric names and units. ``END_TO_END`` and ``PER_LAYER`` are the
lists in BENCHMARK.json; every gated workload reports all of them."""

# the fixed query subset of batch_queries, one per family: scan +
# aggregate, multi-join, embedding similarity, and the Arrow/media
# boundary. Window functions run in every pass's dashboard refresh and
# keep-last dedup in every e2_stream batch; text and LLM-dedup queries
# (1.3-3.4 s warm) would push a pass past what three passes per run
# allow. Each takes ~0.5-1.1 s warm on the sf0.01 fixture.
QUERIES = ("pricing_summary", "min_cost_supplier", "cosine_topk", "image_resize_stats")

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_op": "s",
    "bytes_written_per_op": "bytes",
}

# A layer a workload never calls reads 0 on that workload.
PER_LAYER = {
    "session.start_s": "s",
    "sources.latest_offset_s": "s",
    "sources.input_rows_per_op": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "sinks.replace_directory_s": "s",
    "sinks.files_written_per_op": "count",
    "sinks.warehouse_bytes": "bytes",
    "spark.exec_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.exec_run_s_per_op": "s",
    "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    **{f"queries.{q}.s": "s" for q in QUERIES},
    **{f"queries.{q}.cold_s": "s" for q in QUERIES},
    "pipelines.dashboard_frames_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.steal_s": "s",
}
