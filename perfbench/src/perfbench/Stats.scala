package perfbench

import scala.util.hashing.MurmurHash3

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentiles a tail is reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9, 99.99)

  /** Nearest-rank percentile `p` of sorted samples: the value at 1-based
    * rank ceil(p/100 * n). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rank(sorted.length, p) - 1)

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest percentile on the ladder with at least ten samples beyond
    * it, and its value. A tail backed by fewer samples is one sample's
    * noise. With fewer than 20 samples no percentile qualifies and the
    * median is returned with p = 50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val p = Ladder.filter(q => s.length - rank(s.length, q) >= 10).lastOption
      .getOrElse(50.0)
    (p, percentile(s, p))
  }

  /** Hash of a multiset of rows: independent of row order, sensitive to
    * every value (doubles by their exact decimal form) and to the count. */
  def resultHash(rows: Iterator[Any]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
      n += 1
    }
    f"$n:$sum%016x"
  }

  /** Canonical text of one value: maps are sorted by key text, so their
    * iteration order cannot change the hash. */
  def canon(v: Any): String = v match {
    case null => "~"
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case x => x.toString
  }
}
