package perfbench

/** Every per-layer metric a traced run prints, with its unit. A metric
  * of a layer the workload does not exercise reads 0. The `spark.*`
  * counts, times and bytes are per operation of the traced phase. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sql_executions" -> "count", "spark.driver_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.cached_bytes_end" -> "bytes",
    "config.compile_ms" -> "ms",
    "data.assemble_s" -> "s", "data.source_rows" -> "count", "data.wide_rows" -> "count",
    "ml.fit_s" -> "s", "ml.score_ms" -> "ms",
    "build.rebuild_s" -> "s", "build.registry_hit_ratio" -> "ratio",
    "build.model_load_ms" -> "ms", "build.model_cache_hit_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes", "streaming.backlog_files_end" -> "count",
    "llm.shingle_s" -> "s", "llm.candidate_s" -> "s", "llm.verify_s" -> "s",
    "llm.cluster_s" -> "s", "llm.contamination_s" -> "s", "llm.cc_rounds" -> "count",
    "llm.candidate_pairs" -> "count", "llm.verified_pairs" -> "count",
    "llm.pair_yield" -> "ratio",
    "trace.op_p50_overhead" -> "ratio", "trace.op_tail_overhead" -> "ratio",
    "trace.work_per_s_overhead" -> "ratio")
}
