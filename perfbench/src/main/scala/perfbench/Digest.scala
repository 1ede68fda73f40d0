package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: the column names plus the
  * sorted multiset of canonical row strings. Floating-point values are
  * rounded to 9 significant digits, so a sum whose partial aggregates merge
  * in a different order still digests the same.
  */
object Digest {

  final case class Result(rows: Long, digest: String)

  def of(columns: Seq[String], rows: Seq[Row]): Result = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(columns.mkString("|").getBytes("UTF-8"))
    rows.map(r => canon(r)).sorted.foreach { s =>
      md.update('\n'.toByte)
      md.update(s.getBytes("UTF-8"))
    }
    Result(rows.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def canon(v: Any): String = v match {
    case null                        => "null"
    case d: Double                   => double(d)
    case f: Float                    => double(f.toDouble)
    case b: java.math.BigDecimal     => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal    => b.bigDecimal.stripTrailingZeros.toPlainString
    case bytes: Array[Byte]          => bytes.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                      => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]  => s.map(canon).mkString("[", ",", "]")
    case other                       => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
}
