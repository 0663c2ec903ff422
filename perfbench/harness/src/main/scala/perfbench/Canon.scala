package perfbench

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent summary of a query result, comparable with the one
  * `perfbench/oracle.py` computes from DuckDB: column names sorted, a
  * canonical type per column, the row count, and the sum (mod 2^128) of
  * a 128-bit hash of every row. Each row is hashed over its values in
  * sorted-column order; each value is written as `N` (null) or `V` plus
  * its canonical text, with a UTF-8 byte-length prefix so no escaping is
  * needed. Doubles are compared by their IEEE bits (-0.0 as 0.0), as the
  * repository's own DuckDB check compares them exactly.
  */
object Canon {
  final case class Summary(cols: Seq[String], types: Seq[String], rows: Long, digest: String)

  def typeName(t: DataType): String = t match {
    case BooleanType => "bool"
    case ByteType => "i8"
    case ShortType => "i16"
    case IntegerType => "i32"
    case LongType => "i64"
    case FloatType => "f32"
    case DoubleType => "f64"
    case d: DecimalType => s"dec(${d.precision},${d.scale})"
    case _: StringType => "str"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "ts"
    case other => other.simpleString
  }

  private def doubleText(d: Double): String =
    if (d.isNaN) "NaN"
    else f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def micros(i: java.time.Instant): String =
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString

  /** Canonical text of one value of type `t`; null becomes `N`. */
  def value(v: Any, t: DataType): String =
    if (v == null) "N"
    else "V" + (t match {
      case FloatType => doubleText(v.asInstanceOf[Float].toDouble)
      case DoubleType => doubleText(v.asInstanceOf[Double])
      case _: DecimalType =>
        val d = v.asInstanceOf[java.math.BigDecimal]
        (if (d.signum == 0) d.abs else d).toPlainString
      case TimestampType => v match {
        case ts: java.sql.Timestamp => micros(ts.toInstant)
        case i: java.time.Instant => micros(i)
      }
      case TimestampNTZType =>
        micros(v.asInstanceOf[java.time.LocalDateTime].toInstant(java.time.ZoneOffset.UTC))
      case _ => v.toString
    })

  private val Mod = BigInteger.ONE.shiftLeft(128)

  /** Column names an engine gives unaliased expressions differ between
    * Spark and DuckDB; `positional` names the columns c000, c001, ... */
  def summarize(schema: StructType, rows: Array[Row], positional: Boolean = false): Summary = {
    val names = schema.fields.indices.map(i => if (positional) f"c$i%03d" else schema.fields(i).name)
    val order = schema.fields.indices.sortBy(names)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = BigInteger.ZERO
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder()
      order.foreach { i =>
        val text = value(r.get(i), schema.fields(i).dataType)
        sb.append(text.getBytes(UTF_8).length).append(':').append(text)
      }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      acc = acc.add(new BigInteger(1, java.util.Arrays.copyOf(h, 16)))
    }
    Summary(order.map(names), order.map(i => typeName(schema.fields(i).dataType)),
      rows.length.toLong, acc.mod(Mod).toString(16))
  }
}
