package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result fingerprint: row count plus the wrapping sum
  * of a 64-bit hash of each row's canonical text. Doubles and floats are
  * rendered to 6 significant digits (and magnitudes below 1e-9 as 0), so a
  * different summation order does not change the fingerprint; row order
  * does not either. Column names are part of it. */
object Fingerprint {
  def of(df: DataFrame): String = of(df.columns.toSeq, df.collect())

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    val sum = rows.iterator.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(canonical(r).getBytes(StandardCharsets.UTF_8)), 0, 8).getLong
    }.sum
    f"${columns.mkString(",")}|${rows.length}|$sum%016x"
  }

  private def number(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).toString

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: java.math.BigDecimal => number(b.doubleValue)
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }
}
