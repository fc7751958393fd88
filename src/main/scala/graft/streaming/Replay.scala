package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import graft.functions.Registry

/** Replays finite files through Structured Streaming: one child session
  * per replay, one `AvailableNow` run to completion, and state partitions
  * sized to the replayed input.
  *
  * State partitions: a stateful operator keeps one state store per
  * shuffle partition, and every store commits a checkpoint in every
  * micro-batch at a fixed cost, whatever it holds. AQE cannot coalesce
  * them because the checkpoint pins the count at the first batch, so
  * [[drain]] sizes it up front with the rule AQE uses for batch
  * partitions: the bytes of the files the stream replays divided by
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, rounded up, at
  * least 1 and at most the calling session's `spark.sql.shuffle.partitions`
  * ([[statePartitions]]). A restarted query keeps the count recorded in
  * its checkpoint's offset log, whatever the rule would pick for it then.
  *
  * Single files are bridged to the directory-based file stream source by
  * [[linkDir]].
  */
object Replay {

  /** Builds a stream on a [[session]] of `outer`, drains it into a
    * memory sink in `outputMode`, and returns the sink's table.
    */
  def run(outer: SparkSession, outputMode: String = "append")(
      build: SparkSession => Dataset[_]): DataFrame = {
    val s = session(outer)
    val sink = "replay_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(build(s).toDF, outputMode)(_.format("memory").queryName(sink))
    s.table(sink)
  }

  /** A child session of `outer` with the graft functions registered. Its
    * temp views and conf stay its own; it starts from the two settings
    * [[drain]] sizes state partitions with, as `outer` has them.
    */
  def session(outer: SparkSession): SparkSession = {
    val s = outer.newSession()
    for (k <- Seq(SQLConf.SHUFFLE_PARTITIONS.key, SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key))
      s.conf.set(k, outer.conf.get(k))
    Registry.registerAll(s)
    s
  }

  /** Runs `stream` to completion with an `AvailableNow` trigger into the
    * sink `sink` configures (format, options, `foreachBatch`), after
    * setting its session's shuffle partitions to [[statePartitions]] for
    * the bytes it replays.
    */
  def drain(stream: DataFrame, outputMode: String = "append")(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val s = stream.sparkSession
    val conf = s.sessionState.conf
    s.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, statePartitions(replayedBytes(stream),
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.SHUFFLE_PARTITIONS)))
    val q = sink(stream.writeStream.outputMode(outputMode))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  /** `inputBytes / advisoryBytes` rounded up, clamped to `[1, cap]`. */
  def statePartitions(inputBytes: Long, advisoryBytes: Long, cap: Int): Int =
    math.max(1L, math.min(cap.toLong, (inputBytes + advisoryBytes - 1) / advisoryBytes)).toInt

  /** Total size of the files under the file-stream sources of `stream`,
    * skipping the hidden (`_`/`.`) names the file source skips.
    */
  private def replayedBytes(stream: DataFrame): Long = {
    val hadoopConf = stream.sparkSession.sessionState.newHadoopConf()
    def bytes(fs: FileSystem, p: Path): Long =
      fs.listStatus(p).iterator
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .map(f => if (f.isDirectory) bytes(fs, f.getPath) else f.getLen).sum
    stream.queryExecution.analyzed
      .collect { case r: StreamingRelation =>
        r.dataSource.paths ++ CaseInsensitiveMap(r.dataSource.options).get("path") }
      .flatten.distinct
      .map { p => val path = new Path(p); bytes(path.getFileSystem(hadoopConf), path) }
      .sum
  }

  /** A directory containing (a symlink to) exactly the given file,
    * suitable as a file-stream source path: the source requires a
    * directory (it infers basePath and watches it for new files), so the
    * file is exposed through a per-file symlink directory under
    * java.io.tmpdir. Idempotent; concurrent creators tolerate the
    * already-exists race.
    */
  def linkDir(file: String): String = {
    import java.nio.file.{Files, LinkOption, Paths}
    val src = Paths.get(file).toAbsolutePath
    // Collision-resistant key: 16 hex chars of SHA-256 over the absolute
    // path, so two distinct sources never share a stream directory.
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val key = digest.take(8).map(b => f"$b%02x").mkString
    val d = Paths.get(sys.props("java.io.tmpdir"), "graft_stream_" + key)
    Files.createDirectories(d)
    val link = d.resolve(src.getFileName)
    // A pre-existing link must still point at src (it may be stale from a
    // prior run whose source was moved or deleted); recreate otherwise.
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS)) {
      val stale = !Files.isSymbolicLink(link) ||
        Files.readSymbolicLink(link) != src || !Files.exists(src)
      // deleteIfExists: a concurrent JVM may have already removed the
      // stale link (the same race the createSymbolicLink catch tolerates)
      if (stale) Files.deleteIfExists(link)
    }
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      try Files.createSymbolicLink(link, src)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    d.toString
  }
}
