package graft.perfbench

/** A reported metric: name and unit, exactly as in BENCHMARK.json. */
final case class Metric(name: String, unit: String)

/** The metric catalogue. End-to-end metrics come from untraced runs,
  * per-layer metrics from traced ones. `op_growth_ratio` is listed with
  * the per-layer metrics because a run holds one pass of operations:
  * on `cms_daily` it is 1 by construction, and on `admission_stream`
  * it is the ratio of two single operations, too noisy for a bound.
  * Per-layer names start with the module they time (`io` = `core.IO`,
  * `docsink` = `core.DocSink` with `core.Transports`; `spark` is the
  * engine, read through a listener). */
object Metrics {
  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("rows_per_s", "1/s"),
    Metric("op_p50_s", "s"),
    Metric("op_p90_s", "s"),
    Metric("bytes_written_per_input_byte", "ratio"),
    Metric("peak_rss_mb", "MB"))

  val PerLayer: Seq[Metric] = Seq(
    Metric("io.read_csv_s", "s/op"),
    Metric("io.read_avro_s", "s/op"),
    Metric("io.read_json_s", "s/op"),
    Metric("io.read_rows", "count/op"),
    Metric("io.read_bytes", "B/op"),
    Metric("io.write_s", "s/op"),
    Metric("io.write_bytes", "B/op"),
    Metric("jobs.plan_s", "s/op"),
    Metric("jobs.exec_s", "s/op"),
    Metric("jobs.spark_jobs_per_op", "count/op"),
    Metric("jobs.shuffle_joins", "count/op"),
    Metric("jobs.broadcast_joins", "count/op"),
    Metric("llmops.lm_score_s", "s/op"),
    Metric("functions.shingle_s", "s/op"),
    Metric("functions.minhash_s", "s/op"),
    Metric("op_growth_ratio", "ratio"),
    Metric("streaming.commit_s", "s/op"),
    Metric("streaming.compact_s", "s/call"),
    Metric("streaming.index_read_bytes_per_batch", "B"),
    Metric("streaming.store_bytes", "B"),
    Metric("streaming.admitted", "count/op"),
    Metric("streaming.rejected_exact", "count/op"),
    Metric("streaming.rejected_near", "count/op"),
    Metric("streaming.admit_ratio", "ratio"),
    Metric("docsink.push_s", "s/op"),
    Metric("docsink.docs", "count/op"),
    Metric("docsink.bytes", "B/op"),
    Metric("spark.jobs", "count/op"),
    Metric("spark.stages", "count/op"),
    Metric("spark.tasks", "count/op"),
    Metric("spark.failed_tasks", "count/op"),
    Metric("spark.task_run_s", "s/op"),
    Metric("spark.task_cpu_s", "s/op"),
    Metric("spark.gc_s", "s/op"),
    Metric("spark.task_wait_s", "s/op"),
    Metric("spark.shuffle_write_bytes", "B/op"),
    Metric("spark.shuffle_read_bytes", "B/op"),
    Metric("spark.spill_bytes", "B/op"),
    Metric("spark.cpu_busy_ratio", "ratio"),
    Metric("failed_ratio", "ratio"),
    Metric("trace.overhead_s", "s/op"),
    Metric("trace.overhead_ratio", "ratio"))

  /** Per-layer metrics only `corpus_release` gives. That workload is not
    * in BENCHMARK.json, so they are printed by its runs by hand only. */
  val CorpusLayer: Seq[Metric] = Seq(
    Metric("llmops.exact_s", "s/op"),
    Metric("llmops.waterfall_s", "s/op"),
    Metric("llmops.signatures_s", "s/op"),
    Metric("llmops.lsh_s", "s/op"),
    Metric("llmops.verify_s", "s/op"),
    Metric("llmops.keep_list_s", "s/op"),
    Metric("llmops.release_s", "s/op"),
    Metric("llmops.candidate_pairs", "count/op"),
    Metric("llmops.verified_pairs", "count/op"),
    Metric("llmops.candidate_precision", "ratio"),
    Metric("llmops.planted_recall", "ratio"))
}
