package perfbench

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Exits 1 if any check fails. */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // percentile helper: the highest ladder percentile with >= 10 samples beyond
    val thousand = (1 to 1000).map(_.toDouble)
    expect("tail of 1000 samples is p99 (10 beyond), not p99.9 (1 beyond)")(
      Stats.tail(thousand) == (99.0, 990.0))
    expect("tail of 100 samples is p90")(Stats.tail((1 to 100).map(_.toDouble)) == (90.0, 90.0))
    expect("tail ignores input order")(
      Stats.tail(thousand.reverse) == Stats.tail(thousand))
    expect("tail of 15 samples falls back to the median")(
      Stats.tail((1 to 15).map(_.toDouble)) == (50.0, 8.0))
    expect("tail of 20000 samples is p99.9")(
      Stats.tail((1 to 20000).map(_.toDouble)) == (99.9, 19980.0))
    expect("median of an even count averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // span self time: duration minus the union of the children's intervals
    val spans = Seq(
      Span(1, 0, "root", "bench", 0, 100),
      Span(2, 1, "a", "store", 10, 30),
      Span(3, 1, "b", "store", 20, 50), // overlaps a: counted once
      Span(4, 1, "c", "spark", 90, 120), // runs past its parent: clipped
      Span(5, 2, "d", "spark", 12, 18),
      Span(6, 0, "other", "bench", 200, 260))
    val self = Trace.selfTimes(spans)
    expect("self time subtracts the union of child intervals")(self(1) == 50)
    expect("self time of a span with one child")(self(2) == 14)
    expect("a leaf's self time is its duration")(self(3) == 30 && self(6) == 60)
    expect("every span maps to its root")(
      Trace.roots(spans) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L))

    // order-independent result hashing
    import org.apache.spark.sql.Row
    val rows = Seq(Row(1L, "a", 0.1, Map("x" -> 1, "y" -> 2)), Row(2L, "b", 0.2, null),
      Row(3L, null, Double.NaN, Seq(1, 2)))
    val h = Stats.resultHash(rows.iterator)
    expect("hash ignores row order")(Stats.resultHash(rows.reverse.iterator) == h)
    expect("hash ignores map entry order")(
      Stats.resultHash(Iterator(Row(Map("y" -> 2, "x" -> 1)))) ==
        Stats.resultHash(Iterator(Row(Map("x" -> 1, "y" -> 2)))))
    expect("hash sees the last bit of a double")(
      Stats.resultHash(Iterator(Row(0.1))) != Stats.resultHash(Iterator(Row(Math.nextUp(0.1)))))
    expect("hash counts duplicate rows")(
      Stats.resultHash((rows :+ rows.head).iterator) != h)
    expect("hash tells values from their position in a row")(
      Stats.resultHash(Iterator(Row("a", "b"))) != Stats.resultHash(Iterator(Row("b", "a"))))

    // generators: same seed, same inputs; another seed, other inputs
    def same(a: Array[Array[Float]], b: Array[Array[Float]]) =
      a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i)))
    val g = Gen.gaussian(7, 10000, 16)
    expect("gaussian is a function of the seed")(same(g, Gen.gaussian(7, 10000, 16)))
    expect("gaussian differs across seeds")(!same(g, Gen.gaussian(8, 10000, 16)))
    val (c1, l1) = Gen.clustered(7, 9000, 8, 5)
    val (c2, l2) = Gen.clustered(7, 9000, 8, 5)
    expect("clustered is a function of the seed")(same(c1, c2) && l1.sameElements(l2))
    expect("near queries are a function of the seed")(
      same(Gen.nearQueries(3, c1, 50, 0.5f), Gen.nearQueries(3, c2, 50, 0.5f)))
    val p = Gen.permutation(7, 1000)
    expect("permutation is a permutation of 0 until n")(p.sorted.sameElements(0 until 1000))
    expect("permutation is a function of the seed")(
      p.sameElements(Gen.permutation(7, 1000)) && !p.sameElements(Gen.permutation(8, 1000)))

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
