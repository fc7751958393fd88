package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.Table

/** [[Table.readParquet]]: a single file's schema comes from its footer,
  * read on the driver, and must equal what `spark.read.parquet` infers in
  * a job — nullability and metadata included; everything else is Spark's
  * own read.
  */
class ReadParquetSpec extends GraftSuite {

  private val home = sys.props("user.home")

  private def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("footer schema equals the inferred schema for every test-data file") {
    val files = Seq("sf0.001", "sf0.01", "sf0.1").flatMap(sf => parquetFiles(s"$home/testdata/$sf")) ++
      parquetFiles("src/test/resources")
    assert(files.size >= 30, s"only ${files.size} files found")
    for (p <- files)
      assert(Table.readParquet(spark, p).schema == spark.read.parquet(p).schema, p)
  }

  test("footer schema equals the inferred schema for nested, decimal and NTZ columns") {
    val dir = tempDir("readparquet_types_").resolve("t").toString
    spark.range(5).select(
      col("id"),
      struct(col("id").as("a"), (col("id") * 2).cast("string").as("b")).as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), col("id").cast("double")).as("m"),
      col("id").cast("decimal(20,4)").as("dec"),
      expr("make_timestamp_ntz(2024, 1, 1, 0, 0, cast(id as int))").as("ntz"),
      when(col("id") > 2, col("id")).as("nullable_id")
    ).coalesce(1).write.parquet(dir)
    val file = parquetFiles(dir).head
    val read = Table.readParquet(spark, file)
    assert(read.schema == spark.read.parquet(file).schema)
    assert(read.schema("ntz").dataType.simpleString == "timestamp_ntz")
    assert(rows(read) == rows(spark.read.parquet(file)))
  }

  test("a partitionBy directory reads as spark.read.parquet reads it") {
    val dir = tempDir("readparquet_parts_").resolve("t").toString
    spark.range(20).select(col("id"), (col("id") % 3).as("k")).write.partitionBy("k").parquet(dir)
    val read = Table.readParquet(spark, dir)
    val expected = spark.read.parquet(dir)
    assert(read.schema == expected.schema)
    assert(read.schema.fieldNames.toSeq == Seq("id", "k"))
    assert(rows(read) == rows(expected))
  }

  test("a missing path raises the error spark.read.parquet raises") {
    val missing = tempDir("readparquet_missing_").resolve("nope.parquet").toString
    val ours = intercept[AnalysisException](Table.readParquet(spark, missing))
    val spark_ = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition != null && ours.getCondition == spark_.getCondition)
    assert(ours.getMessage == spark_.getMessage)
  }

  test("reading a single file starts no Spark job") {
    val p = s"$home/testdata/sf0.001/orders.parquet"
    assert(jobsDuring(Table.readParquet(spark, p).schema) == 0)
    // the inference it replaces does start one
    assert(jobsDuring(spark.read.parquet(p).schema) >= 1)
  }

  test("a rewritten file is read with its new schema") {
    val dir = tempDir("readparquet_rewrite_")
    def write(df: DataFrame): String = {
      val out = dir.resolve(java.util.UUID.randomUUID.toString).toString
      df.coalesce(1).write.parquet(out)
      val part = parquetFiles(out).head
      val target = dir.resolve("t.parquet")
      Files.move(java.nio.file.Paths.get(part), target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      target.toString
    }
    val p = write(spark.range(3).toDF("a"))
    assert(Table.readParquet(spark, p).columns.toSeq == Seq("a"))
    write(spark.range(3).select(col("id").as("b"), lit("x").as("c")))
    assert(Table.readParquet(spark, p).columns.toSeq == Seq("b", "c"))
    assert(Table.readParquet(spark, p).collect().toSeq ==
      Seq(Row(0L, "x"), Row(1L, "x"), Row(2L, "x")))
  }
}
