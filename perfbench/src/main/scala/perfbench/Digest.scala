package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: every row is rendered to a
  * canonical string, hashed to 64 bits, and the hashes are summed, so the
  * digest ignores row order but counts duplicate rows. Floating-point
  * values are rendered to nine significant digits, which absorbs the
  * last-bit differences of sums taken in another partition order. */
object Digest {

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => render(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash64(s: String): Long = {
    val hi = MurmurHash3.stringHash(s, 0x3c074a61)
    val lo = MurmurHash3.stringHash(s, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Sum of the row hashes; addition wraps, so it is order-free. */
  def ofRendered(rows: Iterable[String]): Long = rows.foldLeft(0L)(_ + hash64(_))

  def of(rows: Iterable[Row]): Long = ofRendered(rows.map(render))
}
