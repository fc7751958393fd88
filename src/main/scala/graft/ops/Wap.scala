package graft.ops

import org.apache.spark.sql.DataFrame

/** Write–Audit–Publish (io17): the production pattern for getting a
  * dataset into a consumed location without readers ever observing a
  * partial or unaudited state — write to a hidden staging directory,
  * run the caller's audit against the STAGED files (not the in-memory
  * lineage: the audit must see exactly the bytes readers will), then
  * atomically rename staging into place. The io14 dot-temp +
  * ATOMIC_MOVE discipline promoted from one file to a whole dataset.
  */
object Wap {

  /** Write `df` as parquet under a sibling staging directory of `dest`,
    * run `audit` on a fresh reader of the staged files, then publish by
    * same-filesystem rename.
    *
    * Guarantees: a failed audit (any exception) ABORTS the publish —
    * `dest` is untouched and the staging directory is kept for
    * inspection (its path rides the raised error). Publishing a NEW
    * `dest` is one atomic rename; REPLACING an existing `dest` renames
    * the old dataset ASIDE first and restores it if the publish rename
    * fails, so no failure mode destroys the previously published data
    * (the old delete-then-rename window is closed — a crash between the
    * two renames leaves the old dataset intact under a recoverable
    * `.replaced-*` sibling, never gone). The standard WAP deployment
    * still prefers versioned paths + a pointer swap — [[Versioned]]
    * (io18) builds exactly that on top of this primitive.
    */
  def writeAuditPublish(df: DataFrame, dest: String)
                       (audit: DataFrame => Unit): Unit = {
    val spark = df.sparkSession
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(destPath.getParent,
      "." + destPath.getName + ".staging-" +
        java.util.UUID.randomUUID.toString.take(8))
    df.write.mode("overwrite").parquet(staging.toString)
    try audit(graft.api.Table.readParquet(spark, staging.toString))
    catch {
      case e: Throwable => throw new IllegalStateException(
        s"WAP audit failed — publish aborted, dest untouched, staging " +
          s"kept for inspection at $staging", e)
    }
    if (fs.exists(destPath)) {
      val aside = new org.apache.hadoop.fs.Path(destPath.getParent,
        "." + destPath.getName + ".replaced-" +
          java.util.UUID.randomUUID.toString.take(8))
      require(fs.rename(destPath, aside),
        s"publish aborted before touching dest: could not move the " +
          s"existing $dest aside to $aside (staged data kept at $staging)")
      if (!fs.rename(staging, destPath)) {
        fs.rename(aside, destPath) // restore the previous dataset
        throw new IllegalStateException(
          s"atomic publish rename failed: $staging -> $dest (previous " +
            "dataset restored, staging kept)")
      }
      fs.delete(aside, true)
    } else require(fs.rename(staging, destPath),
      s"atomic publish rename failed: $staging -> $dest")
  }

  /** Versioned publish + time travel (io18) — the deployment
    * [[writeAuditPublish]]'s doc recommends, made a first-class layout:
    *
    *   root/v=1, root/v=2, …   immutable published versions
    *   root/_CURRENT           pointer file holding the live version
    *
    * Every publish lands on a NEW `v=N` path (so the stage→audit→rename
    * is always the no-replace single-atomic-rename case) and then swaps
    * the pointer with `FileContext.rename(Options.Rename.OVERWRITE)` —
    * atomic on HDFS and local filesystems, so a reader sees the old
    * pointer or the new one, never a missing or partial pointer. This
    * closes writeAuditPublish's one remaining caveat: nothing is ever
    * deleted on the publish path, so no failure mode can destroy
    * published data. A failed audit aborts before any version or
    * pointer change. Readers: [[readVersion]] with `asOf = None` follows
    * the pointer; `asOf = Some(n)` is the `VERSION AS OF n` time-travel
    * read over any still-published version.
    *
    * Contract: single concurrent writer (the usual lakehouse-commit
    * assumption — two simultaneous publishes could mint the same N;
    * readers are always safe). Old versions are retained until an
    * explicit retention sweep — time travel is only as deep as what is
    * kept.
    */
  object Versioned {

    private val Pointer = "_CURRENT"

    private def fsOf(spark: org.apache.spark.sql.SparkSession,
                     p: org.apache.hadoop.fs.Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Highest v=N directory under root (published or orphaned), 0 when
      * none — the next publish mints max+1, so an orphan from a crash
      * between version-publish and pointer-swap is skipped, never
      * overwritten.
      */
    private def maxVersion(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Long =
      if (!fs.exists(root)) 0L
      else fs.listStatus(root).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") =>
          scala.util.Try(n.substring(2).toLong).getOrElse(0L) }
        .foldLeft(0L)(math.max)

    /** Live version per the pointer file; None before the first
      * successful publish.
      */
    def currentVersion(spark: org.apache.spark.sql.SparkSession,
                       root: String): Option[Long] = {
      val ptr = new org.apache.hadoop.fs.Path(root, Pointer)
      val fs = fsOf(spark, ptr)
      if (!fs.exists(ptr)) None
      else {
        // read-to-EOF on the OPENED stream, never a pre-stat'd length: a
        // concurrent pointer swap that changes the digit count must give
        // old-or-new, never a truncated prefix (review-caught — the
        // open binds one complete file either side of the atomic rename)
        val in = fs.open(ptr)
        val bos = new java.io.ByteArrayOutputStream(16)
        try {
          val buf = new Array[Byte](64)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        Some(new String(bos.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      }
    }

    /** Stage, audit (against the staged bytes, the WAP contract), publish
      * as `root/v=N` (N = highest existing + 1), then atomically swap the
      * pointer. Returns N. A failed audit throws with the staging path,
      * leaving pointer and every published version untouched.
      */
    def publishVersion(df: DataFrame, root: String)
                      (audit: DataFrame => Unit): Long = {
      val spark = df.sparkSession
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = fsOf(spark, rootPath)
      fs.mkdirs(rootPath)
      val n = maxVersion(fs, rootPath) + 1
      writeAuditPublish(df, new org.apache.hadoop.fs.Path(rootPath,
        s"v=$n").toString)(audit)
      // pointer swap: dot-temp + atomic overwrite rename (the io14
      // discipline, via FileContext — FileSystem.rename refuses to
      // overwrite)
      val tmp = new org.apache.hadoop.fs.Path(rootPath,
        s"._CURRENT.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(n.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(
          rootPath.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, new org.apache.hadoop.fs.Path(rootPath, Pointer),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      n
    }

    /** Retention sweep (io19): delete published versions beyond the
      * newest `keepLast`, NEVER the pointer target (a pinned live
      * version survives any sweep — deleting the version readers are
      * being routed to is the one unforgivable GC bug). Time travel
      * afterwards reaches exactly the kept set; expired reads refuse
      * loudly via [[readVersion]]'s existence check. Returns the
      * version numbers actually deleted.
      *
      * Same single-writer contract as [[publishVersion]]; run the
      * sweep from the writer, never concurrently with a publish.
      */
    def expireVersions(spark: org.apache.spark.sql.SparkSession,
                       root: String, keepLast: Int): Seq[Long] = {
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = fsOf(spark, rootPath)
      if (!fs.exists(rootPath)) return Seq.empty
      val live = currentVersion(spark, root)
      val versions = fs.listStatus(rootPath).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") =>
          scala.util.Try(n.substring(2).toLong).toOption }
        .flatten.sorted
      val cut = versions.takeRight(keepLast).toSet
      val victims = versions.filterNot(v => cut.contains(v) ||
        live.contains(v))
      victims.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(rootPath, s"v=$v"), true)
      }
      victims
    }

    /** `VERSION AS OF asOf` read (None = the live pointer version). */
    def readVersion(spark: org.apache.spark.sql.SparkSession, root: String,
                    asOf: Option[Long] = None): DataFrame = {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = fsOf(spark, rootPath)
      val n = asOf.getOrElse(currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(
          s"no published version under $root — publishVersion first")))
      val p = new org.apache.hadoop.fs.Path(rootPath, s"v=$n")
      require(fs.exists(p), {
        val have =
          if (!fs.exists(rootPath)) "none"
          else fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("v=")).sorted.mkString(", ")
        s"version $n is not published under $root (have: $have)"
      })
      graft.api.Table.readParquet(spark, p.toString)
    }
  }
}
