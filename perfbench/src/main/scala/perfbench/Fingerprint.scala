package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint: row count, the sum (mod 2^64) of a
  * 64-bit hash of every row, and a hash of the sorted column names.
  *
  * Each row is rendered canonically with its columns in name order, so that
  * the same result computed by another engine (`fingerprint.py` over DuckDB)
  * gives the same value: numbers of any type become their decimal value
  * rounded to 12 significant digits, timestamps become epoch microseconds,
  * dates ISO dates, nested values bracketed lists. */
object Fingerprint {
  final case class Fp(rows: Long, sum: String, cols: String) {
    def json: Map[String, Any] = Map("rows" -> rows, "sum" -> sum, "cols" -> cols)
  }

  private val Digits = new MathContext(12, RoundingMode.HALF_EVEN)
  private val Sep = "\u001f"

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(Digits).stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, i)

  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case s: String => s
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else num(new java.math.BigDecimal(d))
    case f: Float => canon(f.toDouble)
    case n: java.math.BigDecimal => num(n)
    case n: scala.math.BigDecimal => num(n.bigDecimal)
    case n: Long => num(java.math.BigDecimal.valueOf(n))
    case n: Int => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Short => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Byte => num(java.math.BigDecimal.valueOf(n.toLong))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(columns: Seq[String], rows: Array[Row]): Fp = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += hash64(order.map(i => canon(r.get(i))).mkString(Sep))
    }
    Fp(n, f"$sum%016x", f"${hash64(columns.sorted.mkString(Sep))}%016x")
  }
}
