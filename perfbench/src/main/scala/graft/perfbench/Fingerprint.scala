package graft.perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: the row count plus the
  * 64-bit sum of per-row SHA-256 prefixes over a normalized rendering.
  *
  * Doubles are rounded to 10 significant digits before hashing, as the
  * DuckDB oracle comparison does, so results that differ only in the
  * summation order of floating-point aggregates hash the same. NaN has one
  * spelling and -0.0 renders as 0. The sum (not xor) keeps duplicate rows
  * significant. */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  private val Sig10 = new MathContext(10, RoundingMode.HALF_EVEN)

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig10).stripTrailingZeros.toString

  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => render(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(render(r).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(rows: Array[Row]): Value =
    Value(rows.length.toLong, f"${rows.iterator.map(rowHash).sum}%016x")
}
