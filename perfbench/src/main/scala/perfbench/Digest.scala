package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive, type-strict digest of a query result.
  *
  * The rules follow the strict oracle comparison of `tools/local_verify.py`:
  * columns are matched by name, column types must be identical, and doubles
  * compare bitwise (so -0.0 and 0.0 differ). Row order does not matter, row
  * multiplicity does. `perfbench/gen_expected.py` implements the same
  * encoding over DuckDB's Arrow results; both sides check one shared test
  * vector, so the two implementations cannot drift apart unnoticed.
  *
  * Encoding: the schema line lists `name:type` sorted by name. Each row is
  * its cells in that column order, joined by ','; every cell is a one-letter
  * tag and a payload. A row hashes to the first 16 bytes of its SHA-256;
  * the digest is the SHA-256 of the schema line and the sorted row hashes.
  * NaN is hashed in its canonical bit pattern; all other doubles keep every
  * bit.
  */
object Digest {

  final case class Result(rows: Long, digest: String)

  def typeSig(dt: DataType): String = dt match {
    case ByteType           => "i8"
    case ShortType          => "i16"
    case IntegerType        => "i32"
    case LongType           => "i64"
    case FloatType          => "f32"
    case DoubleType         => "f64"
    case _: StringType      => "str"
    case BooleanType        => "bool"
    case DateType           => "date"
    case TimestampType      => "ts"
    case TimestampNTZType   => "tsntz"
    case BinaryType         => "bin"
    case d: DecimalType     => s"dec(${d.precision},${d.scale})"
    case ArrayType(e, _)    => s"list<${typeSig(e)}>"
    case other              => other.simpleString
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  def cell(v: Any, dt: DataType): String = if (v == null) "N" else dt match {
    case ByteType | ShortType | IntegerType | LongType => "I" + v.toString
    case DoubleType =>
      f"F${java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])}%016x"
    case FloatType =>
      f"E${java.lang.Float.floatToIntBits(v.asInstanceOf[Float])}%08x"
    case _: StringType =>
      val s = v.toString
      s"S${s.getBytes(UTF_8).length}:$s"
    case BooleanType => if (v.asInstanceOf[Boolean]) "B1" else "B0"
    case DateType => "D" + (v match {
      case d: java.sql.Date       => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
    })
    case TimestampType => "T" + (v match {
      case t: java.sql.Timestamp => micros(t.toInstant)
      case t: java.time.Instant  => micros(t)
    })
    case TimestampNTZType =>
      "U" + micros(v.asInstanceOf[java.time.LocalDateTime].toInstant(java.time.ZoneOffset.UTC))
    case d: DecimalType =>
      "M" + v.asInstanceOf[java.math.BigDecimal].setScale(d.scale).unscaledValue.toString
    case BinaryType => "X" + hex(v.asInstanceOf[Array[Byte]])
    case ArrayType(e, _) =>
      val xs = v.asInstanceOf[scala.collection.Seq[Any]]
      s"L${xs.size}[" + xs.map(cell(_, e)).mkString(",") + "]"
    case _ => "?" + v.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Columns sorted by name, ties kept in schema order. */
  private def columnOrder(schema: StructType): Array[Int] =
    schema.fields.indices.sortBy(i => (schema.fields(i).name, i)).toArray

  def schemaLine(schema: StructType): String =
    columnOrder(schema).map { i =>
      val f = schema.fields(i); s"${f.name}:${typeSig(f.dataType)}"
    }.mkString(",")

  def rowString(row: Row, schema: StructType): String =
    columnOrder(schema).map(i => cell(row.get(i), schema.fields(i).dataType)).mkString(",")

  def of(schema: StructType, rows: Iterator[Row]): Result = {
    val order = columnOrder(schema)
    val types = schema.fields.map(_.dataType)
    val rowSha = MessageDigest.getInstance("SHA-256")
    val hashes = collection.mutable.ArrayBuffer.empty[Array[Byte]]
    rows.foreach { r =>
      val s = order.map(i => cell(r.get(i), types(i))).mkString(",")
      hashes += java.util.Arrays.copyOf(rowSha.digest(s.getBytes(UTF_8)), 16)
    }
    val sorted = hashes.sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val all = MessageDigest.getInstance("SHA-256")
    all.update(schemaLine(schema).getBytes(UTF_8))
    all.update("\n".getBytes(UTF_8))
    sorted.foreach(all.update)
    Result(hashes.size.toLong, hex(all.digest()).take(32))
  }
}
