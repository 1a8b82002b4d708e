package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Canonical JSON for collected rows: the form `check.py` compares against
  * DuckDB and hashes to check repeated requests. Integers stay integers and
  * doubles keep every digit, so a dtype or ulp drift fails the check the
  * way `tools/parity.py` would; timestamps are UTC epoch micros, dates
  * epoch days, decimals plain strings. */
object Canon {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else d.toString

  def value(v: Any, t: DataType): String = if (v == null) "null" else t match {
    case BooleanType => v.toString
    case ByteType | ShortType | IntegerType | LongType => v.toString
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case DoubleType => dbl(v.asInstanceOf[Double])
    case _: DecimalType =>
      "{\"dec\":\"" + v.asInstanceOf[java.math.BigDecimal].toPlainString + "\"}"
    case StringType => str(v.toString)
    case TimestampType => "{\"ts\":" + (v match {
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
    }) + "}"
    case TimestampNTZType => "{\"ts\":" +
      DateTimeUtils.localDateTimeToMicros(v.asInstanceOf[java.time.LocalDateTime]) + "}"
    case DateType => "{\"date\":" + (v match {
      case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
      case d: java.time.LocalDate => d.toEpochDay.toInt
    }) + "}"
    case BinaryType => "{\"bin\":\"" +
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]) + "\"}"
    case ArrayType(et, _) =>
      v.asInstanceOf[scala.collection.Seq[Any]].map(value(_, et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
        .map { case (k, x) => "[" + value(k, kt) + "," + value(x, vt) + "]" }
        .sorted.mkString("[", ",", "]")
    case st: StructType => row(v.asInstanceOf[Row], st)
    case other => str(s"<$other>" + v.toString)
  }

  def row(r: Row, st: StructType): String =
    st.fields.indices.map(i => value(r.get(i), st.fields(i).dataType))
      .mkString("[", ",", "]")

  /** `{"columns": [...], "rows": [[...], ...]}` for one collected result. */
  def result(rows: Array[Row], st: StructType): String =
    "{\"columns\":" + st.fieldNames.map(str).mkString("[", ",", "]") +
      ",\"rows\":" + rows.iterator.map(row(_, st)).mkString("[", ",", "]") + "}"

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
