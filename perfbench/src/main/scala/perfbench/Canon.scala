package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus an order-free hash of a query result, canonicalized
  * as tools/check_oracle.py compares results: columns sorted by name,
  * floating-point values rounded to 9 places, every value rendered as
  * a string, rows sorted.
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "None"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
      .bigDecimal.stripTrailingZeros.toPlainString

  /** (row count, sha-256 hex) of the collected result. */
  def hash(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect()
      .map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().map(x => f"$x%02x").mkString)
  }
}
