package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent result digest: row count plus the sum (mod 2^64) of a
  * per-row hash. Doubles are rounded to 10 significant digits first, so a
  * different summation order inside the engine cannot change the digest. */
object Digest {

  def canon(v: Any): String = v match {
    case null                       => "∅"
    case d: Double if d.isNaN       => "NaN"
    case d: Double if d.isInfinite  => if (d > 0) "+Inf" else "-Inf"
    case d: Double                  => fmt(new JBigDecimal(d))
    case f: Float                   => canon(f.toDouble)
    case b: java.math.BigDecimal    => fmt(b)
    case b: scala.math.BigDecimal   => fmt(b.bigDecimal)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row                     => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte]             => a.map("%02x".format(_)).mkString
    case other                      => other.toString
  }

  private val Ten = new MathContext(10)
  private def fmt(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(Ten).stripTrailingZeros.toString

  final class Acc {
    private var n = 0L
    private var sum = 0L
    private val md = MessageDigest.getInstance("SHA-256")
    private def hash(fields: Seq[Any]): Long = java.nio.ByteBuffer.wrap(
      md.digest(fields.map(canon).mkString("\u0001").getBytes(StandardCharsets.UTF_8)), 0, 8).getLong
    def add(fields: Seq[Any]): Unit = { sum += hash(fields); n += 1 }
    /** Mix in something that is not a row (the column names). */
    def salt(fields: Seq[Any]): Unit = sum += hash(fields)
    def rows: Long = n
    def value: String = f"$n:$sum%016x"
  }

  /** Digest of a collected result, including its column names. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val acc = new Acc
    acc.salt(columns)
    rows.foreach(r => acc.add(r.toSeq))
    acc.value
  }
}
