package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** The r13 ADVICE hazard class: a crash inside a gang job must never
  * become a process-wide hang (dead worker thread -> every later
  * gang.run spins forever on done < n). The fix stashes the first
  * worker failure and rethrows it from gang.run on the query thread,
  * keeping the daemon workers alive.
  */
class ScanGangSpec extends AnyFunSuite {

  test("a throwing job surfaces on the query thread and the gang stays usable") {
    val gang = new ScanGang(4)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val ex = intercept[IllegalStateException] {
      gang.run { w =>
        if (w == 2) throw new IllegalStateException("boom")
        hits.incrementAndGet()
      }
    }
    assert(ex.getMessage == "boom")
    assert(hits.get() == 3) // the other workers ran to completion
    // the gang must still dispatch: a dead worker would hang this call
    val sum = new java.util.concurrent.atomic.AtomicInteger(0)
    gang.run { w => sum.addAndGet(w + 1) }
    assert(sum.get() == 10)
    // and the stashed failure must not leak into the healthy run
    gang.run { _ => () }
  }

  test("first of several concurrent worker failures is the one rethrown") {
    val gang = new ScanGang(3)
    val ex = intercept[RuntimeException] {
      gang.run { _ => throw new RuntimeException("all-fail") }
    }
    assert(ex.getMessage == "all-fail")
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    gang.run { _ => ok.incrementAndGet() }
    assert(ok.get() == 3)
  }

  test("replicas share one scan gang: building starts no threads, searching one gang") {
    import scala.jdk.CollectionConverters._
    def gangThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("scan-gang-"))
    val cap = math.min(Runtime.getRuntime.availableProcessors(), 16)
    val before = gangThreads()
    val rnd = new scala.util.Random(5)
    val (n, dim) = (10000, 16)
    val replicas = (0 until 20).map { _ =>
      val data = new Array[Byte](n * dim)
      rnd.nextBytes(data)
      new LocalIndex(Array(VectorBlock(Array.tabulate(n)(_.toLong), data, dim)), dim)
    }
    // gangs this suite made itself above, or another spec's earlier use
    // of the shared gang, may already be alive: count only new threads
    assert(gangThreads() == before, "building a replica started scan threads")
    val q = Array.fill[Byte](dim)(3)
    replicas.foreach(r => assert(r.search(q, 5).size == 5))
    val added = gangThreads() - before
    assert(added <= cap, s"$added scan-gang threads for 20 replicas (cap $cap)")
  }
}
