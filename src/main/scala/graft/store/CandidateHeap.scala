package graft.store

import graft.functions.TopKSink

/** Bounded top-`k` candidate set under the (score DESC, id ASC) total
  * order, as a size-capped binary MIN-heap (root = current worst): insert
  * is O(log k) vs TopKBuffer's O(k) array shift — the difference between
  * a ~10 and a ~1000-element funnel. TopKBuffer is the right structure
  * for final top-10s; this is the right one for candK=512..4096 candidate
  * stages, where the kept SET is all that matters (the exact rescore
  * re-ranks downstream). Keeps exactly the same elements TopKBuffer would
  * (both keep the top k of the identical total order — ids are unique, so
  * the order is total and the kept set is insertion-order-independent).
  */
private[store] final class CandidateHeap(val k: Int) extends TopKSink {
  require(k > 0, s"k must be positive, got $k")
  var size = 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)

  // a is WORSE than b under (score DESC, id ASC): lower score, or equal
  // score with a larger id
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        val s = scores(i); val d = ids(i)
        scores(i) = scores(p); ids(i) = ids(p)
        scores(p) = s; ids(p) = d
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) return
      val s = scores(i); val d = ids(i)
      scores(i) = scores(w); ids(i) = ids(w)
      scores(w) = s; ids(w) = d
      i = w
    }
  }

  def insert(s: Double, i: Long): Unit = {
    if (size < k) {
      scores(size) = s; ids(size) = i
      size += 1
      siftUp(size - 1)
    } else if (worse(scores(0), ids(0), s, i)) {
      scores(0) = s; ids(0) = i
      siftDown()
    }
  }

  def mergeFrom(o: CandidateHeap): Unit = {
    var j = 0
    while (j < o.size) { insert(o.scores(j), o.ids(j)); j += 1 }
  }

  /** TERMINAL: heap-sort the contents in place into (score DESC, id ASC)
    * order — after this the arrays read as a best-first sorted list and
    * the object is no longer a valid heap (no more inserts). Min-heap
    * extract-to-end leaves the best element at index 0. Lets a gang of
    * workers sort their own candidate sets in PARALLEL so the cross-
    * worker top-k selection is a trivial k-way head merge instead of
    * size*O(log k) sift-downs on the calling thread. */
  def sortIntoDesc(): Unit = {
    val n = size
    var end = n - 1
    while (end > 0) {
      val s = scores(0); val d = ids(0)
      scores(0) = scores(end); ids(0) = ids(end)
      scores(end) = s; ids(end) = d
      size = end
      siftDown()
      end -= 1
    }
    size = n
  }
}

/** The k-way head select over gang workers' [[CandidateHeap.sortIntoDesc]]
  * sorted candidate lists. A naive per-pop linear scan of all heads is
  * O(candK x gang.n) strided loads (~16k iterations at candK=1024 — it
  * measured as the composed tiers' bottleneck once scan and rescore were
  * parallel); the tournament heap below is O(candK x log2(gang.n)). */
private[store] object CandidateSelect {

  /** Fill `candIdx` with the GLOBAL top-`candK` ids (flat row indexes)
    * merged best-first from the sorted worker lists; returns the count
    * (< candK only when the lists are exhausted). Worker lists must be
    * duplicate-free across workers (each row scanned by exactly one). */
  def kWayTopIdx(bufs: Array[CandidateHeap], candK: Int,
      candIdx: Array[Int]): Int = {
    val n = bufs.length
    // head tournament heap: (score, id, worker, pos), BEST at root
    val hS = new Array[Double](n)
    val hI = new Array[Long](n)
    val hW = new Array[Int](n)
    val hP = new Array[Int](n)
    var hn = 0
    @inline def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)
    def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) >> 1
        if (better(hS(i), hI(i), hS(p), hI(p))) {
          val s = hS(i); val d = hI(i); val w = hW(i); val q = hP(i)
          hS(i) = hS(p); hI(i) = hI(p); hW(i) = hW(p); hP(i) = hP(p)
          hS(p) = s; hI(p) = d; hW(p) = w; hP(p) = q
          i = p
        } else return
      }
    }
    def siftDown(): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        val r = l + 1
        var b = i
        if (l < hn && better(hS(l), hI(l), hS(b), hI(b))) b = l
        if (r < hn && better(hS(r), hI(r), hS(b), hI(b))) b = r
        if (b == i) return
        val s = hS(i); val d = hI(i); val w = hW(i); val q = hP(i)
        hS(i) = hS(b); hI(i) = hI(b); hW(i) = hW(b); hP(i) = hP(b)
        hS(b) = s; hI(b) = d; hW(b) = w; hP(b) = q
        i = b
      }
    }
    var w = 0
    while (w < n) {
      val b = bufs(w)
      if (b != null && b.size > 0) {
        hS(hn) = b.scores(0); hI(hn) = b.ids(0); hW(hn) = w; hP(hn) = 0
        hn += 1
        siftUp(hn - 1)
      }
      w += 1
    }
    var cn = 0
    while (cn < candK && hn > 0) {
      candIdx(cn) = hI(0).toInt
      cn += 1
      val src = bufs(hW(0))
      val next = hP(0) + 1
      if (next < src.size) {
        hS(0) = src.scores(next); hI(0) = src.ids(next); hP(0) = next
        siftDown()
      } else {
        hn -= 1
        if (hn > 0) {
          hS(0) = hS(hn); hI(0) = hI(hn); hW(0) = hW(hn); hP(0) = hP(hn)
          siftDown()
        }
      }
    }
    cn
  }
}
