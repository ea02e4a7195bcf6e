package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent digest of a query result, canonicalized the way the
  * repository's DuckDB oracle compare does: columns sorted by name,
  * floating values rounded to 6 decimals. Each row hashes to 64 bits;
  * the digest is the row count plus the wrapping sum of the row hashes,
  * so it ignores row order but counts duplicate rows.
  */
object Digest {
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = md.digest(s.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    f"$n:$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal
      .stripTrailingZeros.toPlainString
}
