package perfbench


import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.rules.QueryExecutionMetrics
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Everything recorded for one traced query: the benchmark's own clock
  * readings around the `api` call and the `exec` write, the tracker of the
  * DataFrame the call returned, global Catalyst and codegen counter deltas,
  * and the listener events attributed to the query's job tags.
  */
final case class QueryTrace(
    traceId: String,
    query: String,
    startMs: Double, builtMs: Double, endMs: Double,
    buildTag: String, execTag: String,
    buildTracker: QueryPlanningTracker,
    rules: QueryExecutionMetrics,
    compiles: Long, compileNs: Long,
    events: Seq[AnyRef]) {

  private val jobStarts = events.collect {
    case e: SparkListenerJobStart if Probe.tagsOf(e).exists(t => t == buildTag || t == execTag) => e
  }
  private val jobEnds = events.collect { case e: SparkListenerJobEnd => e.jobId -> e }.toMap

  /** (jobId, isBuild, startMs, endMs) of every job the query started. */
  val jobs: Seq[(Int, Boolean, Double, Double)] = jobStarts.map { s =>
    val end = jobEnds.get(s.jobId).map(_.time).getOrElse(s.time)
    (s.jobId, Probe.tagsOf(s).contains(buildTag), s.time.toDouble, end.toDouble)
  }

  private val stageJob: Map[Int, Int] =
    jobStarts.flatMap(s => s.stageIds.map(_ -> s.jobId)).reverse.toMap

  /** Submitted stages of the query's jobs (one entry per attempt). */
  val stages: Seq[StageInfo] = events.collect {
    case e: SparkListenerStageCompleted if stageJob.contains(e.stageInfo.stageId) => e.stageInfo
  }

  val tasks: Seq[SparkListenerTaskEnd] = events.collect {
    case e: SparkListenerTaskEnd if stageJob.contains(e.stageId) => e
  }

  val qes: Seq[QeEvent] = events.collect { case e: QeEvent => e }

  private val streamRuns: Set[java.util.UUID] = events.collect {
    case e: QueryStartedEvent if e.jobTags.exists(t => t == buildTag || t == execTag) => e.runId
  }.toSet

  val progress: Seq[StreamingQueryProgress] = events.collect {
    case e: QueryProgressEvent if streamRuns.contains(e.progress.runId) => e.progress
  }

  /** Streams the query started that have not reported termination. */
  def unterminatedStreams: Set[java.util.UUID] =
    streamRuns -- events.collect { case e: QueryTerminatedEvent => e.runId }

  private def trackers: Seq[QueryPlanningTracker] = buildTracker +: qes.map(_.qe.tracker)

  /** (phase, startMs, endMs) of every Catalyst phase recorded for the query. */
  val phases: Seq[(String, Double, Double)] = for {
    t <- trackers
    (name, p) <- t.phases.toSeq
    if name != QueryPlanningTracker.PARSING
  } yield (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)

  def graftRuleNs: Long = trackers.flatMap(_.rules).collect {
    case (name, r) if name.startsWith("graft.") => r.totalTimeNs
  }.sum

  private def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** The query's spans. Ids: 0 query, 1 api.build, 2 exec, then Catalyst
    * phases, jobs, stages and streaming batches. A phase or batch hangs off
    * whichever of api.build and exec contains its start; a stage hangs off
    * its job.
    */
  def spans: Seq[Span] = {
    val out = collection.mutable.ArrayBuffer(
      Span(traceId, 0, -1, "query", startMs, endMs),
      Span(traceId, 1, 0, "api.build", startMs, builtMs),
      Span(traceId, 2, 0, "exec", builtMs, endMs))
    def next = out.size
    def byStart(s: Double): Int = if (s < builtMs) 1 else 2
    phases.foreach { case (name, s, e) => out += Span(traceId, next, byStart(s), s"catalyst.$name", s, e) }
    val jobSpan = jobs.map { case (id, isBuild, s, e) =>
      val span = Span(traceId, next, if (isBuild) 1 else 2, "job", s, e)
      out += span
      id -> span.id
    }.toMap
    stages.foreach { st =>
      for (s <- st.submissionTime; e <- st.completionTime)
        out += Span(traceId, next, jobSpan(stageJob(st.stageId)), "stage", s.toDouble, e.toDouble)
    }
    progress.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      out += Span(traceId, next, byStart(s), "stream.batch", s, s + duration(p, "triggerExecution"))
    }
    out.toSeq
  }

  /** This query's contribution to each summed per-layer quantity. */
  def sums: Map[String, Double] = {
    val buildJobs = jobs.filter(_._2)
    val ok = tasks.filter(_.taskMetrics != null).map(_.taskMetrics)
    val submitted = stages.flatMap(s => s.submissionTime.map(s.stageId -> _)).toMap
    def phase(n: String) = phases.filter(_._1 == n).map(p => p._3 - p._2).sum / 1000
    val lastProgress = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    Map(
      "api.build_s" -> (builtMs - startMs) / 1000,
      "api.eager_jobs" -> buildJobs.size.toDouble,
      "api.eager_job_s" -> Spans.coveredMs(buildJobs.map(j => (j._3, j._4)), startMs, endMs) / 1000,
      "catalyst.analysis_s" -> phase(QueryPlanningTracker.ANALYSIS),
      "catalyst.optimization_s" -> phase(QueryPlanningTracker.OPTIMIZATION),
      "catalyst.planning_s" -> phase(QueryPlanningTracker.PLANNING),
      "catalyst.rule_s" -> rules.time / 1e9,
      "catalyst.graft_rule_s" -> graftRuleNs / 1e9,
      "catalyst.rule_runs" -> rules.numRuns.toDouble,
      "catalyst.rule_effective_runs" -> rules.numEffectiveRuns.toDouble,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileNs / 1e9,
      "exec.wall_s" -> Spans.coveredMs(jobs.map(j => (j._3, j._4)), startMs, endMs) / 1000,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.one_task_stages" -> stages.count(_.numTasks == 1).toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> ok.map(_.executorRunTime).sum / 1000.0,
      "exec.task_cpu_s" -> ok.map(_.executorCpuTime).sum / 1e9,
      "exec.task_wait_s" -> tasks.flatMap(t =>
        submitted.get(t.stageId).map(s => math.max(0L, t.taskInfo.launchTime - s))).sum / 1000.0,
      "exec.input_bytes" -> ok.map(_.inputMetrics.bytesRead).sum.toDouble,
      "exec.shuffle_read_bytes" -> ok.map(_.shuffleReadMetrics.totalBytesRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> ok.map(_.shuffleWriteMetrics.bytesWritten).sum.toDouble,
      "exec.spill_bytes" -> ok.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum.toDouble,
      "exec.gc_s" -> ok.map(_.jvmGCTime).sum / 1000.0,
      "exec.task_failures" -> tasks.count(t => t.reason != Success || t.taskInfo.attemptNumber > 0).toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.add_batch_s" -> progress.map(duration(_, "addBatch")).sum / 1000,
      "streaming.planning_s" -> progress.map(duration(_, "queryPlanning")).sum / 1000,
      "streaming.wal_commit_s" -> progress.map(duration(_, "walCommit")).sum / 1000,
      "streaming.commit_s" -> progress.map(duration(_, "commitOffsets")).sum / 1000,
      "streaming.state_commit_s" -> progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1000.0,
      "streaming.state_rows" -> lastProgress.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
    )
  }

  def batchMs: Seq[Double] = progress.map(duration(_, "triggerExecution"))
}

object Trace {

  /** Per-layer metrics of a traced window: per-query means of the summed
    * quantities, window-wide ratios, and each span name's self time per
    * query (`self.<span>_s`).
    */
  def layerMetrics(traces: Seq[QueryTrace]): Map[String, Double] = {
    val n = traces.size.max(1).toDouble
    val total = traces.map(_.sums).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
    def t(k: String) = total.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val perQuery = total.removedAll(Seq("catalyst.rule_runs", "catalyst.rule_effective_runs",
      "exec.one_task_stages", "exec.task_failures")).map { case (k, v) => k -> v / n }
    val batches = traces.flatMap(_.batchMs)
    val self = Spans.selfByName(traces.flatMap(_.spans)).map { case (k, v) => s"self.${k}_s" -> v / 1000 / n }
    perQuery ++ self ++ Map(
      "api.self_s" -> self.getOrElse("self.api.build_s", 0.0),
      "catalyst.rule_effective_frac" -> ratio(t("catalyst.rule_effective_runs"), t("catalyst.rule_runs")),
      "exec.parallelism" -> ratio(t("exec.task_run_s"), t("exec.wall_s")),
      "exec.one_task_stage_frac" -> ratio(t("exec.one_task_stages"), t("exec.stages")),
      "exec.task_failures" -> t("exec.task_failures"),
      "streaming.batch_p50_ms" -> (if (batches.isEmpty) 0.0 else Stats.median(batches)),
    )
  }

  /** Span names every traced run reports a self time for. */
  val SpanNames: Seq[String] = Seq("query", "api.build", "exec", "catalyst.analysis",
    "catalyst.optimization", "catalyst.planning", "job", "stage", "stream.batch")
}
