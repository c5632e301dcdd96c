package perfbench

import java.math.{MathContext, RoundingMode}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row

/** Order-independent content digest of an op's result rows.
  *
  * Each row is rendered canonically (doubles and floats rounded to ten
  * significant digits, because aggregate merge order may move the last
  * bits between runs), hashed to 64 bits, and the row hashes are summed:
  * the digest does not depend on row order, and a missing, extra or
  * changed row moves it.
  */
object Digest {
  final case class Result(rows: Long, hash: String)

  private val Ctx = new MathContext(10, RoundingMode.HALF_EVEN)

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("␀")
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append(d.toString)
      else if (d == 0.0) sb.append("0")
      else sb.append(new java.math.BigDecimal(d).round(Ctx).stripTrailingZeros.toString)
    case f: Float => render(f.toDouble, sb)
    case r: Row =>
      sb.append('{')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); render(r.get(i), sb); i += 1 }
      sb.append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); render(x, sb) }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val b = new java.lang.StringBuilder; render(k, b); b.append("->"); render(x, b); b.toString
      }.sorted
      sb.append(parts.mkString("<", ",", ">"))
    case b: Array[Byte] => sb.append(b.map("%02x".format(_)).mkString)
    case other => sb.append(other.toString)
  }

  def rowHash(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    render(r, sb)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0xbeef).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): Result = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(r))
    Result(rows.length.toLong, f"$sum%016x")
  }
}
