package perfbench

/** The benchmark's workloads and its per-layer metric names.
  *
  * Each workload is a fixed list of queries declared by `graft.SparkEntry`,
  * taken at a fixed stride from its family sorted by name, so that one pass
  * over the list fits several times into one run. The lists are frozen here:
  * a query added to the engine later does not change the benchmark.
  */
object Workloads {

  final case class Workload(name: String, sf: String, queries: Seq[String])

  /** Vinum's own surface, single-table SELECT through `Table.sql`: every
    * 5th `q*` query at sf0.01, where fixed per-query cost dominates.
    */
  val Select = Workload("select", "sf0.01", Seq(
    "q01_scan_project", "q08_agg_multikey", "q15_datetime", "q22_datetime_unit",
    "q29_date_fns", "q36_array_hof", "q43_values", "q50_star_rename", "q57_from_first",
    "q64_sample_clause", "q71_comprehension_map"))

  /** Library operators where executor work dominates: every 9th of the
    * text (`t*`) and dedup (`d*`) operators at sf0.1.
    */
  val Operators = Workload("operators", "sf0.1", Seq(
    "d01_dedup_exact", "d15_dedup_best_of", "t05_redact", "t20_collocations"))

  /** Structured Streaming: every 8th `st*` query (from the 8th) at sf0.1. Many small
    * micro-batch jobs, per-batch planning, WAL, checkpoint and state-store
    * writes.
    */
  val Stream = Workload("stream", "sf0.1", Seq(
    "st04_stream_append", "st16_stream_funnel"))

  val all: Seq[Workload] = Seq(Select, Operators, Stream)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))

  /** Per-layer metrics taken from the trace, with their units. Counts, bytes
    * and times are per query; `_frac` and `parallelism` are window ratios.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "api.build_s" -> "s", "api.eager_jobs" -> "count", "api.eager_job_s" -> "s", "api.self_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.rule_s" -> "s", "catalyst.graft_rule_s" -> "s", "catalyst.rule_effective_frac" -> "ratio",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "exec.wall_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.parallelism" -> "ratio", "exec.one_task_stage_frac" -> "ratio",
    "exec.input_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s",
    "exec.task_failures" -> "count",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms", "streaming.add_batch_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.wal_commit_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.state_commit_s" -> "s", "streaming.state_rows" -> "count")
}
