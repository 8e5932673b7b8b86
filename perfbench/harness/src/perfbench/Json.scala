package perfbench

import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Minimal JSON writer for run records and result rows.
  *
  * Result values are written so that `perfbench/oracle.py` can put them in
  * the same canonical form as DuckDB's Python values: timestamps as
  * `yyyy-MM-dd HH:mm:ss.SSSSSS` in UTC, dates as ISO dates, binary as hex,
  * structs as objects, non-finite doubles as the strings Python prints.
  */
object Json {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

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

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v, exact = true) }
      .mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(value(_, exact = true)).mkString("[", ",", "]")

  /** One result row as a JSON array in column order. */
  def row(r: Row, names: Seq[String], exact: Boolean): String =
    names.indices.map(i => value(r.get(i), exact)).mkString("[", ",", "]")

  /** Order-independent fingerprint of a result: the hash of its sorted
    * rows, doubles rounded to 9 decimals (the oracle check's tolerance). */
  def fingerprint(rows: Array[Row], names: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(row(_, names, exact = false)).sorted.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  private def dbl(d: Double, exact: Boolean): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isInfinite) (if (d > 0) "\"inf\"" else "\"-inf\"")
    else if (exact) java.lang.Double.toString(d)
    else new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros().toPlainString

  def value(v: Any, exact: Boolean): String = v match {
    case null | None => "null"
    case Some(x) => value(x, exact)
    case b: Boolean => b.toString
    case d: Double => dbl(d, exact)
    case f: Float => dbl(f.toDouble, exact)
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      str(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).format(tsFmt))
    case t: Instant => str(LocalDateTime.ofInstant(t, ZoneOffset.UTC).format(tsFmt))
    case t: LocalDateTime => str(t.format(tsFmt))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: LocalDate => str(d.toString)
    case b: Array[Byte] => str(b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(i => s"_$i"))
      names.zipWithIndex.map { case (n, i) => str(n) + ":" + value(r.get(i), exact) }
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (String.valueOf(k), value(x, exact)) }
        .sortBy(_._1).map { case (k, x) => str(k) + ":" + x }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value(_, exact)).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(value(_, exact)).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
