package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result set.
  *
  * Columns are taken in name order, every value is rendered to a
  * canonical string, each row string is hashed (first 8 bytes of its
  * SHA-1) and the row hashes are summed modulo 2^64. The digest is
  * `<rows>:<sum as 16 hex digits>`, so it changes with any row's
  * content or multiplicity but not with row or column order.
  *
  * Floating-point and decimal values are rounded to 8 significant
  * digits (half-up), so reductions that differ only in summation order
  * give the same digest. `perfbench/digest.py` implements the same
  * rendering for results read back from DuckDB.
  */
object Digest {
  private val Sig = new MathContext(8, RoundingMode.HALF_UP)

  def canonNumber(d: JBigDecimal): String =
    if (d.signum == 0) "0e0"
    else {
      val r = d.round(Sig).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "1e0" else "0e0"
    case x: Byte => exactInt(BigInt(x.toInt))
    case x: Short => exactInt(BigInt(x.toInt))
    case x: Int => exactInt(BigInt(x))
    case x: Long => exactInt(BigInt(x))
    case x: java.math.BigInteger => exactInt(BigInt(x))
    case x: BigInt => exactInt(x)
    case x: Float => canonDouble(x.toDouble)
    case x: Double => canonDouble(x)
    case x: JBigDecimal => canonNumber(x)
    case x: scala.math.BigDecimal => canonNumber(x.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Integers keep every digit; small ones share the rounded form so an
    * integral count equals the same count computed as a double. */
  private def exactInt(x: BigInt): String =
    if (x.abs < BigInt(100000000L)) canonNumber(new JBigDecimal(x.bigInteger))
    else {
      val d = new JBigDecimal(x.bigInteger).stripTrailingZeros
      s"${d.unscaledValue}e${-d.scale}"
    }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else canonNumber(new JBigDecimal(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** Digest of rows whose columns are named `names` (any order). */
  def of(names: Seq[String], rows: Iterator[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u0001"))
    }
    f"$n:$sum%016x"
  }
}
