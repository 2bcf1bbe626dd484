package perfbench

import org.apache.spark.sql.Row

/** Row count and order-independent content hash of a result. Floating
  * values are hashed at 6 significant digits, so a different summation
  * order inside an aggregate does not change the hash. */
object Digest {
  private def canon(v: Any, str: String => String): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN) "NaN" else f"$d%.6e"
    case f: Float => canon(f.toDouble, str)
    case r: Row => r.toSeq.map(canon(_, str)).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k, str) + "->" + canon(x, str) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon(_, str)).mkString("[", ",", "]")
    case other => other.toString
  }

  /** `str` rewrites string values before hashing. */
  def ofRows(rows: Array[Row], str: String => String = identity): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val c = canon(r, str)
      sum += scala.util.hashing.MurmurHash3.stringHash(c).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(c, 17).toLong
    }
    (rows.length.toLong, f"$sum%016x")
  }
}
