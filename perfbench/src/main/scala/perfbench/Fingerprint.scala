package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}

import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a result: the row count and the sum
  * (mod 2^64) of one 64-bit hash per row. Floating values are rounded to
  * nine significant digits first, so a different summation order between
  * runs (shuffle fetch order) does not change the fingerprint; arrays keep
  * their order, maps are sorted by key. */
object Fingerprint {

  /** Executes `df` (one SQL action, like any other sink) and returns
    * `rows:hash`. */
  def of(df: DataFrame): String = {
    val parts = df.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      rows.foreach { r => n += 1; sum += rowHash(r) }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    f"${parts.map(_._1).sum}%d:${parts.map(_._2).sum}%016x"
  }

  private def rowHash(r: Row): Long = {
    val s = render(r)
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x2f1a6c3d).toLong & 0xffffffffL)
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros().toString

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
