package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("b", LongType), StructField("a", StringType), StructField("c", DoubleType),
    StructField("d", DateType), StructField("e", BooleanType)))

  private val rows = Seq(
    Row(1L, "x", -0.0, java.sql.Date.valueOf("2020-01-02"), true),
    Row(null, "é,1", 1.5, null, false),
    Row(-7L, null, Double.NaN, java.sql.Date.valueOf("1970-01-01"), null))

  private def digest(s: StructType, rs: Seq[Row]) = Digest.of(s, rs.iterator).digest

  test("matches the test vector that gen_expected.py checks") {
    // gen_expected.TEST_VECTOR_DIGEST: the Python side over the same table
    assert(digest(schema, rows) == "8b795c6c91027cf27dd354a9b5aeae1b")
    assert(Digest.of(schema, rows.iterator).rows == 3)
  }

  test("row order does not matter") {
    assert(digest(schema, rows.reverse) == digest(schema, rows))
  }

  test("column order does not matter, column names do") {
    val swapped = StructType(Seq(schema("a"), schema("b")))
    val plain = StructType(Seq(schema("b"), schema("a")))
    assert(digest(swapped, Seq(Row("x", 1L))) == digest(plain, Seq(Row(1L, "x"))))
    val renamed = StructType(Seq(StructField("z", LongType), schema("a")))
    assert(digest(renamed, Seq(Row(1L, "x"))) != digest(plain, Seq(Row(1L, "x"))))
  }

  test("row multiplicity matters") {
    assert(digest(schema, rows :+ rows.head) != digest(schema, rows))
  }

  test("doubles compare bitwise") {
    val s = StructType(Seq(StructField("c", DoubleType)))
    assert(digest(s, Seq(Row(-0.0))) != digest(s, Seq(Row(0.0))))
    assert(digest(s, Seq(Row(0.1 + 0.2))) != digest(s, Seq(Row(0.3))))
    assert(digest(s, Seq(Row(Double.NaN))) == digest(s, Seq(Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L)))))
  }

  test("types are strict") {
    val asInt = StructType(Seq(StructField("b", IntegerType)))
    val asLong = StructType(Seq(StructField("b", LongType)))
    assert(digest(asInt, Seq(Row(1))) != digest(asLong, Seq(Row(1L))))
  }

  test("string cells cannot run into each other") {
    val s = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    assert(digest(s, Seq(Row("x,S1:y", "z"))) != digest(s, Seq(Row("x", "y,S1:z"))))
  }
}
