package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent

import graft.{GraftSession, SparkEntry}
import graft.functions.Registry

/** The benchmark program: one closed-loop client running one workload's
  * queries through the engine's public entry points. See perfbench/README.md.
  *
  * Usage:
  *   run    --workload W --seed N --seconds S --trace 0|1 --home DIR --out DIR
  *   oracle --workload W --home DIR --out FILE
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** How long the benchmark waits for the listener bus or a stream's end. */
  val WaitMs = 60000L

  final case class Failure(query: String, stage: String, reason: String) {
    def json: String = Json.obj(Seq("query" -> Json.str(query), "stage" -> Json.str(stage),
      "reason" -> Json.str(reason)))
  }

  final case class Expected(rows: Long, digest: Option[String])

  private def opt(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run")    => run(args)
      case Some("oracle") => dumpOracle(args)
      case _              => System.err.println("usage: perfbench.Main run|oracle ..."); 2
    }
    Console.out.flush()
    sys.exit(code)
  }

  private def reason(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .toSeq.headOption.getOrElse("").take(300)

  private def dataDir(wl: Workloads.Workload): String = {
    // the generated corpus of TESTDATA.md, kept under the user's home
    val root = sys.env.getOrElse("PERFBENCH_DATA", s"${sys.props("user.home")}/testdata")
    val dir = s"$root/${wl.sf}"
    require(Files.isDirectory(Paths.get(dir)), s"input tables not found at $dir")
    dir
  }

  private def newSession(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]")
      .appName("perfbench")
      // one shuffle partition per core, as graft.Bench runs
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  private def loadExpected(home: Path, wl: String): Map[String, Expected] = {
    val f = home.resolve("expected").resolve(s"$wl.tsv")
    Files.readAllLines(f, UTF_8).asScala.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(q, rows, digest) = l.split("\t")
      q -> Expected(rows.toLong, Some(digest).filter(_ != "-"))
    }.toMap
  }

  /** Row groups, rows and bytes of every input table. */
  private def tableLayout(dir: String): Seq[String] = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet")).sortBy(_.toString).map { p =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
        try {
          val groups = r.getRowGroups.asScala
          Json.obj(Seq("table" -> Json.str(p.getFileName.toString.stripSuffix(".parquet")),
            "bytes" -> Files.size(p).toString, "row_groups" -> groups.size.toString,
            "rows" -> groups.map(_.getRowCount).sum.toString))
        } finally r.close()
      }
  }

  private def peakRssMb: Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
    hwm.getOrElse(sys.error("VmHWM not available")) / 1024.0
  }

  /** Latencies of the successful queries of some passes, and each pass's
    * throughput. `qps` is the median pass's, so one disturbed pass does not
    * move it.
    */
  final class Window {
    val latencies = collection.mutable.ArrayBuffer.empty[Double]
    val byQuery = collection.mutable.Map.empty[String, List[Double]]
    val traces = collection.mutable.ArrayBuffer.empty[QueryTrace]
    val passQps = collection.mutable.ArrayBuffer.empty[Double]
    var seconds = 0.0
    def qps: Double = if (passQps.isEmpty) 0.0 else Stats.median(passQps.toSeq)
    def add(t: QueryTrace): Unit = { traces += t; record(t.query, (t.endMs - t.startMs) / 1000) }
    def record(q: String, s: Double): Unit = { latencies += s; byQuery(q) = s :: byQuery.getOrElse(q, Nil) }
    /** Median over queries of each query's median latency. */
    def p50: Double = Stats.median(byQuery.values.map(Stats.median).toSeq)
  }

  def run(args: Array[String]): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val wl = Workloads.byName(opt(args, "workload"))
    val seed = opt(args, "seed").toLong
    val seconds = opt(args, "seconds").toDouble
    val traced = opt(args, "trace") == "1"
    val home = Paths.get(opt(args, "home"))
    val out = Paths.get(opt(args, "out"))
    Files.createDirectories(out)
    val dir = dataDir(wl)
    val expected = loadExpected(home, wl.name)
    val fns = SparkEntry.queries
    val missing = wl.queries.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not declared by the engine: ${missing.mkString(",")}")
    val cores = Runtime.getRuntime.availableProcessors
    val failures = collection.mutable.ArrayBuffer.empty[Failure]
    var attempted = 0

    def attempt(q: String, stage: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable => failures += Failure(q, stage, reason(e)); false }
    }

    // ---- set-up, several times: session, functions, one warm-up query ----
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cores, out)
      val t1 = System.nanoTime()
      Registry.registerAll(spark)
      val t2 = System.nanoTime()
      attempt(wl.queries.head, "setup")(noop(fns(wl.queries.head)(spark, dir)))
      val t3 = System.nanoTime()
      (t1 - t0, t2 - t1, t3 - t0)
    }
    // every query once, so the timed passes find caches filled and code compiled
    val primeStart = System.nanoTime()
    wl.queries.foreach(q => attempt(q, "prime")(noop(fns(q)(spark, dir))))
    val primeS = (System.nanoTime() - primeStart) / 1e9
    val coldS = (nowMs - jvmStartMs) / 1000

    // ---- timed passes over the workload, each in an order drawn from the
    // seed, until `seconds` have passed (at least one whole pass of each
    // kind). With tracing, passes alternate untraced and traced, so both qps
    // figures come from the same stretch of the run and their ratio is the
    // tracing overhead. qps counts whole passes only; latencies count every
    // query that finished.
    val plain = new Window
    val withTrace = new Window
    val probe = new Probe
    val windowStart = System.nanoTime()
    def done = (System.nanoTime() - windowStart) / 1e9 >= seconds &&
      plain.passQps.nonEmpty && (!traced || withTrace.passQps.nonEmpty)
    var passNo = 0
    val passSeconds = collection.mutable.ArrayBuffer.empty[Double]
    while (!done) {
      val order = new Random(seed * 1000003L + passNo).shuffle(wl.queries)
      val tracing = traced && passNo % 2 == 1
      val w = if (tracing) withTrace else plain
      val passStart = System.nanoTime()
      val okBefore = w.latencies.size
      if (tracing) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val finished = order.iterator.takeWhile(_ => !done).map { q =>
        if (tracing) {
          attempted += 1
          tracedQuery(spark, probe, fns(q), dir, q, s"${wl.name}-$seed-$passNo-$q", failures)
            .foreach(withTrace.add)
        } else {
          val t0 = System.nanoTime()
          if (attempt(q, "timed")(noop(fns(q)(spark, dir)))) plain.record(q, (System.nanoTime() - t0) / 1e9)
        }
      }.size
      if (tracing) {
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
      }
      val passS = (System.nanoTime() - passStart) / 1e9
      w.seconds += passS
      if (finished == order.size) w.passQps += (w.latencies.size - okBefore) / passS
      passSeconds += passS
      passNo += 1
    }
    val timed = plain
    val tracedWindow = if (traced) Some(withTrace) else None

    // ---- output check, outside the timed windows ----
    val checkStart = System.nanoTime()
    val checked = wl.queries.sorted.map { q =>
      q -> attempt(q, "check") {
        val df = fns(q)(spark, dir)
        val got = Digest.of(df.schema, df.collect().iterator)
        expected.get(q) match {
          case None => sys.error("no expected result recorded")
          case Some(Expected(rows, Some(d))) if d != got.digest =>
            sys.error(s"digest ${got.digest} != expected $d (rows ${got.rows}, expected $rows)")
          case Some(Expected(rows, None)) if rows != got.rows =>
            sys.error(s"row count ${got.rows} != expected $rows")
          case _ =>
        }
      }
    }

    val checkS = (System.nanoTime() - checkStart) / 1e9
    val coresConf = spark.sparkContext.defaultParallelism
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val layout = tableLayout(dir)
    spark.stop()
    val rssMb = peakRssMb

    val failed = failures.size
    val okFrac = (attempted - failed).toDouble / attempted
    val tail = Stats.tail(if (timed.latencies.nonEmpty) timed.latencies.toSeq else Seq(Double.NaN))
    val p50 = if (timed.latencies.nonEmpty) timed.p50 else Double.NaN

    val endToEnd = Seq(
      ("setup_s", Stats.median(setups.map(_._3 / 1e9)), "s"),
      ("qps", timed.qps, "1/s"),
      ("latency_p50_s", p50, "s"),
      // a tail is never reported below the median
      ("latency_tail_s", math.max(tail.value, p50), "s"),
      ("ok_frac", okFrac, "ratio"),
      ("peak_rss_mb", rssMb, "MB"))

    val layers: Seq[(String, Double, String)] = tracedWindow.toSeq.flatMap { w =>
      val m = Trace.layerMetrics(w.traces.toSeq)
      val spanNames = Trace.SpanNames.map(n => s"self.${n}_s")
      Seq(
        ("session.start_s", Stats.median(setups.map(_._1 / 1e9)), "s"),
        ("functions.register_s", Stats.median(setups.map(_._2 / 1e9)), "s"),
        ("setup.cold_s", coldS, "s"),
        ("setup.prime_s", primeS, "s"),
        ("trace.qps", w.qps, "1/s"),
        ("trace.overhead_frac", timed.qps / w.qps - 1, "ratio"),
      ) ++ Workloads.LayerMetrics.map { case (k, unit) => (k, m.getOrElse(k, 0.0), unit) } ++
        spanNames.map(k => (k, m.getOrElse(k, 0.0), "s"))
    }

    // spans and the full report go to files; the report also goes to stdout
    tracedWindow.foreach { w =>
      Files.write(out.resolve(s"spans-${wl.name}-$seed.jsonl"),
        w.traces.flatMap(_.spans).map(_.json).asJava, UTF_8)
    }
    def metricJson(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val report = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> traced.toString,
      "sf" -> Json.str(wl.sf),
      "cores_conf" -> coresConf.toString,
      "cores_host" -> cores.toString,
      "queries" -> wl.queries.size.toString,
      "passes" -> passNo.toString,
      "pass_s" -> Json.arr(passSeconds.map(Json.num)),
      "timed_samples" -> timed.latencies.size.toString,
      "timed_window_s" -> Json.num(timed.seconds),
      "setup_cold_s" -> Json.num(coldS),
      "prime_s" -> Json.num(primeS),
      "check_s" -> Json.num(checkS),
      "total_s" -> Json.num((nowMs - jvmStartMs) / 1000),
      "latency_tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile),
        "value_s" -> Json.num(tail.value), "samples" -> tail.n.toString,
        "beyond" -> tail.beyond.toString)),
      "fail_frac" -> Json.num(failed.toDouble / attempted),
      "failures" -> Json.arr(failures.map(_.json)),
      "checked" -> Json.obj(checked.map { case (q, ok) => q -> Json.str(if (ok) "ok" else "FAIL") }),
      "setups" -> Json.arr(setups.map { case (session, register, total) =>
        Json.obj(Seq("session_s" -> Json.num(session / 1e9), "register_s" -> Json.num(register / 1e9),
          "warmup_s" -> Json.num((total - session - register) / 1e9), "total_s" -> Json.num(total / 1e9)))
      }),
      "end_to_end" -> metricJson(endToEnd),
      "per_layer" -> metricJson(layers),
      "tables" -> Json.arr(layout),
      "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
    ))
    Files.write(out.resolve(s"report-${wl.name}-$seed-${if (traced) 1 else 0}.json"),
      report.getBytes(UTF_8))
    println(s"""{"perfbench_report":$report}""")

    val metrics = if (traced) layers else endToEnd
    val correct = failed == 0 && timed.latencies.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricJson(metrics))))
    0
  }

  /** One traced query: tags its jobs, times the `api` call and the `exec`
    * write, then fences the listener bus and waits for the end of every
    * stream the query started. Returns None if the query threw.
    */
  private def tracedQuery(spark: SparkSession, probe: Probe, fn: SparkEntry.QFn, dir: String,
      q: String, traceId: String, failures: collection.mutable.ArrayBuffer[Failure]): Option[QueryTrace] = {
    val sc = spark.sparkContext
    val buildTag = s"perfbench-$traceId-build"
    val execTag = s"perfbench-$traceId-exec"
    val r0 = RuleExecutor.getCurrentMetrics()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val t0 = nowMs
    var t1 = t0
    var own: Option[SparkSession] = None
    val result = scala.util.Try {
      sc.addJobTag(buildTag)
      val df = try fn(spark, dir) finally sc.removeJobTag(buildTag)
      t1 = nowMs
      // a query may answer from a session of its own (the st* queries do);
      // its write's Catalyst phases go to that session's listeners
      if (df.sparkSession ne spark) {
        own = Some(df.sparkSession)
        df.sparkSession.listenerManager.register(probe)
      }
      sc.addJobTag(execTag)
      try noop(df) finally sc.removeJobTag(execTag)
      df
    }
    val t2 = nowMs
    val rules = RuleExecutor.getCurrentMetrics() - r0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val compileNs = CodeGenerator.compileTime - n0
    var events = try probe.drainThrough(sc, s"${Probe.FencePrefix}$traceId", WaitMs)
      finally own.foreach(_.listenerManager.unregister(probe))
    def make(df: DataFrame) = QueryTrace(traceId, q, t0, t1, t2, buildTag, execTag,
      df.queryExecution.tracker, rules, compiles, compileNs, events)
    result match {
      case scala.util.Failure(e) =>
        failures += Failure(q, "traced", reason(e))
        None
      case scala.util.Success(df) =>
        var trace = make(df)
        while (trace.unterminatedStreams.nonEmpty) {
          val pending = trace.unterminatedStreams
          probe.awaitEvent(WaitMs) {
            case e: QueryTerminatedEvent => pending.contains(e.runId)
            case _ => false
          } match {
            case Some(more) => events = events ++ more; trace = make(df)
            case None =>
              failures += Failure(q, "traced", s"streams $pending did not report termination")
              return None
          }
        }
        Some(trace)
    }
  }

  /** Writes each workload query's oracle SQL and the engine's own digest of
    * its result, the input `perfbench/gen_expected.py` checks against DuckDB.
    */
  def dumpOracle(args: Array[String]): Int = {
    val wl = Workloads.byName(opt(args, "workload"))
    val out = Paths.get(opt(args, "out"))
    val dir = dataDir(wl)
    val work = out.toAbsolutePath.getParent
    val spark = newSession(Runtime.getRuntime.availableProcessors, work)
    Registry.registerAll(spark)
    val oracle = SparkEntry.oracleSql
    val entries = wl.queries.sorted.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val d = Digest.of(df.schema, df.collect().iterator)
      q -> Json.obj(Seq("oracle" -> oracle.get(q).map(Json.str).getOrElse("null"),
        "rows" -> d.rows.toString, "digest" -> Json.str(d.digest)))
    }
    spark.stop()
    Files.write(out, Json.obj(Seq("sf" -> Json.str(wl.sf), "queries" -> Json.obj(entries)))
      .getBytes(UTF_8))
    0
  }
}
