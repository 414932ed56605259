package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive digest of collected rows: the row count plus two
  * sums of 32-bit row hashes (two hash seeds, each summed as an
  * unsigned value, so the sums cannot overflow). Floating-point values
  * enter the hash at 9 significant digits, so a different summation
  * order in the query cannot change the digest. It runs on the driver
  * over rows already collected, so it adds nothing to the query's plan
  * or to its timed execution.
  */
object Digest {

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    // -0.0 and 0.0 print differently; NaN prints as NaN
    case d: Double => if (d == 0) "0" else "%.9g".format(d)
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Returns "rows:sum1:sum2". */
  def of(rows: Array[Row]): String = {
    var a, b = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(canon).mkString("\u0001")
      a += MurmurHash3.stringHash(s, 1) & 0xffffffffL
      b += MurmurHash3.stringHash(s, 2) & 0xffffffffL
    }
    s"${rows.length}:$a:$b"
  }
}
