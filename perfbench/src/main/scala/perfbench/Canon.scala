package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical SHA-256 of a result: columns in name order, one line per
  * row in result order. Values are rendered by value, not by type, so a
  * Spark result and the DuckDB oracle's parquet (read back through
  * Spark) hash alike when their values agree:
  *  - an integral number below 1e15 renders as an integer, whatever its
  *    type (DuckDB and Spark widen sums and counts differently);
  *  - any other number renders as the exact decimal expansion of its
  *    double value;
  *  - timestamps render as UTC wall-clock, arrays and structs
  *    element-wise.
  */
object Canon {
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      var first = true
      order.foreach { i =>
        if (!first) sb.append('|')
        first = false
        cell(r.get(i), sb)
      }
      sb.append('\n')
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def columns(schema: StructType): Seq[String] = schema.fieldNames.toSeq.sorted

  private def number(d: java.math.BigDecimal, sb: java.lang.StringBuilder): Unit = {
    val integral = d.signum == 0 || d.stripTrailingZeros.scale <= 0
    if (integral && d.abs.compareTo(java.math.BigDecimal.valueOf(1e15)) < 0)
      sb.append(d.toBigInteger.toString)
    else sb.append(new java.math.BigDecimal(d.doubleValue).toPlainString)
  }

  private def double(v: Double, sb: java.lang.StringBuilder): Unit =
    if (v.isNaN || v.isInfinite) sb.append(v.toString)
    else number(new java.math.BigDecimal(v), sb)

  def cell(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("<null>")
    case b: Boolean => sb.append(if (b) "true" else "false")
    case x: Byte => sb.append(x.toLong)
    case x: Short => sb.append(x.toLong)
    case x: Int => sb.append(x.toLong)
    case x: Long =>
      if (math.abs(x.toDouble) < 1e15) sb.append(x)
      else double(x.toDouble, sb)
    case x: Float => double(x.toDouble, sb)
    case x: Double => double(x, sb)
    case x: java.math.BigDecimal => number(x, sb)
    case x: scala.math.BigDecimal => number(x.bigDecimal, sb)
    case x: String => sb.append(x)
    case x: java.sql.Timestamp =>
      sb.append(java.time.LocalDateTime.ofInstant(x.toInstant,
        java.time.ZoneOffset.UTC).toString)
    case x: java.time.Instant =>
      sb.append(java.time.LocalDateTime.ofInstant(x,
        java.time.ZoneOffset.UTC).toString)
    case x: java.time.LocalDateTime => sb.append(x.toString)
    case x: java.sql.Date => sb.append(x.toLocalDate.toString)
    case x: java.time.LocalDate => sb.append(x.toString)
    case x: Array[Byte] => x.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case x: scala.collection.Map[_, _] =>
      val parts = x.toSeq.map { case (k, e) =>
        val s = new java.lang.StringBuilder
        cell(k, s); s.append(':'); cell(e, s); s.toString
      }.sorted
      sb.append('{').append(parts.mkString(",")).append('}')
    case x: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      x.foreach { e =>
        if (!first) sb.append(',')
        first = false
        cell(e, sb)
      }
      sb.append(']')
    case x: Row =>
      sb.append('(')
      var i = 0
      while (i < x.length) {
        if (i > 0) sb.append(',')
        cell(x.get(i), sb)
        i += 1
      }
      sb.append(')')
    case other => sb.append(other.toString)
  }
}
