package storebench

/**
 * The per-layer metrics of the traced run, named after the engine's
 * modules, with their units. Every traced run reports all of them; a
 * layer a workload never calls reads 0 there. A `*_ms` metric whose name
 * minus `_ms` is a span is that span's mean self time; `*_jobs` metrics
 * count the Spark jobs submitted inside the span of the same name; the
 * rest are means of the observations the workloads and the run record.
 */
object PerLayer {
  val Metrics: Seq[(String, String)] = Seq(
    "zorder.decompose_us" -> "us",
    "zorder.intervals" -> "count",
    "zorder.false_positive_ratio" -> "ratio",
    "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "plans.pruning_fired" -> "ratio",
    "point_store.open_ms" -> "ms",
    "point_store.exec_ms" -> "ms",
    "point_store.knn_probe_ms" -> "ms",
    "point_store.knn_probe_jobs" -> "count",
    "point_store3.open_ms" -> "ms",
    "point_store3.exec_ms" -> "ms",
    "point_store.pending_markers" -> "count",
    "point_store.delete_ms" -> "ms",
    "point_store.compact_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.files_per_batch" -> "count",
    "streaming.store_files" -> "count",
    "streaming.recluster_ms" -> "ms",
    "postings_store.open_ms" -> "ms",
    "postings_store.exec_ms" -> "ms",
    "postings_store.rows_read_per_query" -> "rows",
    "postings_store.layers" -> "count",
    "postings_store.append_ms" -> "ms",
    "postings_store.delete_ms" -> "ms",
    "postings_store.compact_ms" -> "ms",
    "vector_store.exec_ms" -> "ms",
    "vector_store.rows_read_per_query" -> "rows",
    "vector_store.recall_at_10" -> "ratio",
    "vector_store.append_ms" -> "ms",
    "vector_store.delete_ms" -> "ms",
    "vector_store.compact_ms" -> "ms",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.rows_read_per_result" -> "ratio",
    "spark.files_read_per_op" -> "count",
    "spark.input_bytes_per_op" -> "bytes",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.task_time_ratio" -> "ratio",
    "spark.gc_ms_per_op" -> "ms",
    "trace.traced_ops_per_s" -> "1/s",
    "trace.untraced_ops_per_s" -> "1/s")
}
