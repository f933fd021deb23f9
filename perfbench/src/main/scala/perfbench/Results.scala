package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** Canonical text form of collected rows.
  *
  * Each row becomes one JSON array of its column values, with the
  * columns in name order (the oracle compare sorts columns by name).
  * Numbers keep every digit, so the oracle side can apply its own
  * rounding; timestamps are UTC wall-clock strings. The digest of a
  * result is the SHA-256 of its sorted row lines, so two results with
  * the same rows in any order have the same digest.
  */
object Results {

  def columns(schema: StructType): Seq[String] = schema.fieldNames.toSeq.sorted

  def lines(rows: Array[Row], schema: StructType): Array[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map { r =>
      val sb = new java.lang.StringBuilder("[")
      order.indices.foreach { i =>
        if (i > 0) sb.append(',')
        value(sb, r.get(order(i)))
      }
      sb.append(']').toString
    }.sorted
  }

  def digest(sortedLines: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    sortedLines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("null")
    else if (d.isInfinite) str(sb, if (d > 0) "Infinity" else "-Infinity")
    else sb.append(java.lang.Double.toString(d))

  private def dateTime(sb: java.lang.StringBuilder, t: LocalDateTime): Unit = {
    val micros = t.getNano / 1000
    val base = f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    str(sb, if (micros == 0) base else f"$base.$micros%06d")
  }

  private def value(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case b: Boolean => sb.append(b)
    case n: Byte => sb.append(n)
    case n: Short => sb.append(n)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case f: Float => double(sb, f.toDouble)
    case d: Double => double(sb, d)
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    case d: scala.math.BigDecimal => sb.append(d.bigDecimal.toPlainString)
    case s: String => str(sb, s)
    case t: java.sql.Timestamp =>
      dateTime(sb, LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: java.time.Instant => dateTime(sb, LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => dateTime(sb, t)
    case d: java.sql.Date => str(sb, d.toLocalDate.toString)
    case d: LocalDate => str(sb, d.toString)
    case b: Array[Byte] => str(sb, b.map(x => f"$x%02x").mkString)
    case m: scala.collection.Map[_, _] =>
      // maps: key-sorted [k, v] pairs
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder("[")
        value(e, k); e.append(','); value(e, x); e.append(']').toString
      }.sorted
      sb.append(parts.mkString("{\"$map\":[", ",", "]}"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); value(sb, x) }
      sb.append(']')
    case r: Row if r.schema == null => value(sb, r.toSeq)
    case r: Row =>
      // structs: an object keyed by field name
      sb.append('{')
      r.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
        if (i > 0) sb.append(',')
        str(sb, f); sb.append(':'); value(sb, r.get(i))
      }
      sb.append('}')
    case other => str(sb, other.toString)
  }
}
