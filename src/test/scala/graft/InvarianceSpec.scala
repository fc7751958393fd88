package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partitioning-invariance pins for the round-10 operators: a
  * distributed operator must produce IDENTICAL results no matter how
  * the input is partitioned — the property that separates "passes the
  * oracle once at sf0.01" from "safe on a 1000-executor cluster where
  * partitioning is whatever the scheduler dealt". Each test runs the
  * operator on the natural layout and on adversarial repartitions and
  * compares collected results exactly.
  */
class InvarianceSpec extends GraftSuite {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"), col("lang"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }.toSeq).toSeq.sortBy(_.toString)

  private def layouts(df: DataFrame): Seq[DataFrame] =
    Seq(df, df.repartition(7), df.repartition(1), df.coalesce(2))

  test("bm25 scores are identical under any input partitioning") {
    val expected = rows(graft.ops.Search.bm25(docs, "doc_id", "text",
      Seq("data", "query", "vector")))
    for (l <- layouts(docs))
      assert(rows(graft.ops.Search.bm25(l, "doc_id", "text",
        Seq("data", "query", "vector"))) == expected)
  }

  test("dsir weights are identical under any input partitioning") {
    val expected = rows(graft.ops.Sampling.dsirLogWeights(
      docs, "doc_id", "text", col("lang") === "en"))
    for (l <- layouts(docs))
      assert(rows(graft.ops.Sampling.dsirLogWeights(
        l, "doc_id", "text", col("lang") === "en")) == expected)
  }

  test("gumbelTopK selection is identical under any input partitioning") {
    val w = graft.ops.Sampling.dsirLogWeights(
        docs, "doc_id", "text", col("lang") === "en")
      .select(col("doc_id"), (col("weight_fp").cast("double") / 1e6).as("w"))
    val expected = rows(graft.ops.Sampling.gumbelTopK(w, "doc_id", "w", 10))
    for (l <- layouts(w))
      assert(rows(graft.ops.Sampling.gumbelTopK(l, "doc_id", "w", 10))
        == expected)
  }

  test("Iterate.loop result does not depend on the checkpoint cadence") {
    import spark.implicits._
    val base = (1L to 40L).toDF("x")
    def run(every: Int) = rows(
      graft.ops.Iterate.loop(base, 6, checkpointEvery = every) { (df, i) =>
        df.groupBy((col("x") % (i + 2)).as("k"))
          .agg(sum(col("x")).as("x")).select(col("x"))
      })
    val expected = run(1)
    assert(run(2) == expected && run(5) == expected && run(6) == expected)
  }

  test("tfidfCosinePairs is identical under any input partitioning") {
    def run(d: DataFrame) = rows(graft.ops.Dedup.tfidfCosinePairs(
      d, "doc_id", "text", threshold = 0.5, maxDocFreq = 1000L))
    val expected = run(docs)
    assert(expected.nonEmpty)
    for (l <- layouts(docs)) assert(run(l) == expected)
  }

  test("containmentPairs: hashed postings reproduce the string-gram pairs") {
    val str = rows(graft.ops.Dedup.containmentPairs(
      docs, "doc_id", "text", shingleK = 5, threshold = 0.3,
      maxDocFreq = 1000L, hashGrams = false))
    val hashed = rows(graft.ops.Dedup.containmentPairs(
      docs, "doc_id", "text", shingleK = 5, threshold = 0.3,
      maxDocFreq = 1000L, hashGrams = true))
    assert(str == hashed && str.nonEmpty)
  }

  test("corpusNovelty is identical under any input partitioning") {
    def run(d: DataFrame) = rows(
      graft.ops.TextAnalysis.corpusNovelty(d, "doc_id", "text"))
    val expected = run(docs)
    assert(expected.nonEmpty)
    for (l <- layouts(docs)) assert(run(l) == expected)
  }

  test("cdcChunkGroups is identical under any input partitioning") {
    def run(d: DataFrame) = rows(
      graft.ops.Dedup.cdcChunkGroups(d, "doc_id", "text"))
    val expected = run(docs)
    assert(expected.nonEmpty)
    for (l <- layouts(docs)) assert(run(l) == expected)
  }

  test("cdc_chunks boundaries re-sync after an insertion (shift-robustness)") {
    // the d21 contract that delimiter segmentation (d06) cannot offer:
    // prefixing text shifts every offset, but chunks re-derive from the
    // CONTENT — all original chunks except the first survive intact
    val s = spark
    import s.implicits._
    graft.functions.Registry.registerAll(s)
    // NON-periodic text (hex of a mixed counter): periodic text would
    // yield identical repeated chunks and prove nothing about re-sync
    val base = (0 until 300)
      .map(i => java.lang.Long.toHexString(i * 2654435761L + 17L))
      .mkString(" ")
    val edited = "INSERTED PREFIX >>> " + base
    val Seq(a, b) = Seq(base, edited).toDF("text")
      .selectExpr("cdc_chunks(text, 64L) AS c")
      .collect().map(_.getSeq[String](0)).toSeq
    // after the window re-syncs, the chunk sequences must share their
    // entire tail — everything but the edit-bearing head chunk(s)
    val common = (1 to math.min(a.size, b.size))
      .takeWhile(k => a(a.size - k) == b(b.size - k)).lastOption.getOrElse(0)
    assert(common >= a.size - 2,
      s"expected a shared chunk tail of >= ${a.size - 2}, got $common of ${a.size}")
    assert(a.mkString == base && b.mkString == edited,
      "chunks must concatenate back to the exact input")
  }

  test("Cdc.diff is identical under any partitioning of either snapshot") {
    val before = docs.select(col("doc_id"), col("lang"))
    val after = docs
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.when(col("doc_id") % 3 === 0,
          org.apache.spark.sql.functions.lit("xx")).otherwise(col("lang"))
          .as("lang"))
    def run(b: DataFrame, a: DataFrame) = rows(
      graft.ops.Cdc.diff(b, a, Seq("doc_id"), Seq("lang")))
    val expected = run(before, after)
    assert(expected.nonEmpty)
    for (lb <- layouts(before); la <- Seq(after, after.repartition(5)))
      assert(run(lb, la) == expected)
  }

  test("packSegments is identical under any input partitioning") {
    def run(d: DataFrame) = rows(graft.ops.Packing.packSegments(
      d, "doc_id", "lang", org.apache.spark.sql.functions.length(col("text")),
      budget = 4096))
    val expected = run(docs)
    assert(expected.nonEmpty)
    for (l <- layouts(docs)) assert(run(l) == expected)
  }

  test("Geo.nearestJoin is identical under any partitioning of either side") {
    val probes = docs.select(col("doc_id").as("pid"),
      ((col("doc_id") % 320).cast("double") * 0.0625).as("plat"),
      (((col("doc_id") * 7) % 320).cast("double") * 0.0625).as("plon"))
    val sites = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id").as("sid"),
        (((col("doc_id") * 11) % 320).cast("double") * 0.0625).as("slat"),
        (((col("doc_id") * 13) % 320).cast("double") * 0.0625).as("slon"))
    def run(p: DataFrame, s: DataFrame) = rows(graft.ops.Geo.nearestJoin(
      p, "pid", "plat", "plon", s, "sid", "slat", "slon",
      boxDeg = 2.0, metric = graft.ops.Geo.planarSq))
    val expected = run(probes, sites)
    assert(expected.nonEmpty)
    for (p <- layouts(probes)) assert(run(p, sites) == expected)
    for (s <- layouts(sites)) assert(run(probes, s) == expected)
  }

  test("Bellman-Ford relaxation is identical under any edge partitioning") {
    val edges = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 1) % 500).as("dst"))
      .withColumn("w", (col("src") * 5 + col("dst") * 3) % 10 + 1)
    val dist0 = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), lit(0L).as("dist"))
    def run(e: DataFrame) = rows(graft.ops.Iterate.loop(dist0, 4) { (d, _) =>
      val relax = e.join(d, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), (col("dist") + col("w")).as("dist"))
      d.unionByName(relax).groupBy(col("doc_id")).agg(min(col("dist")).as("dist"))
    })
    val expected = run(edges)
    assert(expected.nonEmpty)
    for (e <- layouts(edges)) assert(run(e) == expected)
  }

  test("st04 and st16 replays are identical with 1 and 8 state partitions") {
    def run(q: String, advisoryBytes: Long) = {
      val outer = spark.newSession()
      outer.conf.set("spark.sql.shuffle.partitions", 8L)
      outer.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryBytes)
      val df = SparkEntry.queries(q)(outer, s"${sys.props("user.home")}/testdata/sf0.01")
      (df.sparkSession.conf.get("spark.sql.shuffle.partitions"), rows(df))
    }
    for (q <- Seq("st04_stream_append", "st16_stream_funnel")) {
      val (one, expected) = run(q, 64L << 20)
      val (eight, got) = run(q, 1L)
      assert(one == "1" && eight == "8", s"$q ran with $one and $eight state partitions")
      assert(expected.nonEmpty && got == expected, q)
    }
  }

  test("a small ORDER BY gives the same rows in the same order at 1, 4 and 32 shuffle partitions") {
    // minPartitionSize 1 byte keeps the range exchange the one-task sort
    // replaces, so both plans run at every partition count
    def run(partitions: Int, minSize: String) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minSize)
      graft.functions.Registry.registerAll(s)
      graft.api.Table.fromParquet(s, s"${sys.props("user.home")}/testdata/sf0.001/lineitem.parquet")
        .sql("SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net " +
          "FROM lineitem ORDER BY l_shipdate DESC, net, l_orderkey, l_linenumber")
        .toDF.collect().toSeq.map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        })
    }
    val expected = run(4, "1MB")
    assert(expected.nonEmpty)
    for (p <- Seq(1, 4, 32); minSize <- Seq("1MB", "1b"))
      assert(run(p, minSize) == expected, s"$p partitions, minPartitionSize $minSize")
  }
}
