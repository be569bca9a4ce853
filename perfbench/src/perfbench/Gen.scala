package perfbench

import java.util.SplittableRandom

/** Seeded inputs for every workload. Rows are generated in fixed-size
  * chunks, each from its own stream split off the seed, so the output
  * depends on the seed alone and not on how many threads generate it. */
object Gen {

  private val Chunk = 4096

  /** `n` x `dim` standard Gaussian vectors: the reference protocol's
    * corpus and queries (no structure an index could exploit). */
  def gaussian(seed: Long, n: Int, dim: Int): Array[Array[Float]] =
    rows(seed, n) { (rnd, _) => Array.fill(dim)(rnd.nextGaussian().toFloat) }

  /** `n` x `dim` vectors around `clusters` Gaussian centres (centre spread
    * `spread`, within-cluster sigma 1). Returns the vectors and each row's
    * cluster. Row i belongs to cluster i % clusters. */
  def clustered(seed: Long, n: Int, dim: Int, clusters: Int,
      spread: Float = 2f): (Array[Array[Float]], Array[Int]) = {
    val c = centres(seed, clusters, dim, spread)
    val vecs = rows(seed ^ 0x5DEECE66DL, n) { (rnd, i) =>
      val ctr = c(i % clusters)
      Array.tabulate(dim)(j => ctr(j) + rnd.nextGaussian().toFloat)
    }
    (vecs, Array.tabulate(n)(_ % clusters))
  }

  /** Queries near the corpus: a seeded pick of corpus rows, each moved by
    * Gaussian noise of scale `noise`. */
  def nearQueries(seed: Long, corpus: Array[Array[Float]], n: Int,
      noise: Float): Array[Array[Float]] =
    rows(seed, n) { (rnd, _) =>
      val base = corpus(rnd.nextInt(corpus.length))
      Array.tabulate(base.length)(j => base(j) + noise * rnd.nextGaussian().toFloat)
    }

  /** A seeded permutation of 0 until n. */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val rnd = new SplittableRandom(seed)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def centres(seed: Long, clusters: Int, dim: Int,
      spread: Float): Array[Array[Float]] = {
    val rnd = new SplittableRandom(seed)
    Array.fill(clusters)(Array.fill(dim)(spread * rnd.nextGaussian().toFloat))
  }

  private def rows(seed: Long, n: Int)(
      row: (SplittableRandom, Int) => Array[Float]): Array[Array[Float]] = {
    val out = new Array[Array[Float]](n)
    val chunks = (n + Chunk - 1) / Chunk
    val root = new SplittableRandom(seed)
    val streams = Array.fill(chunks)(root.split())
    Par.foreach(chunks) { c =>
      val rnd = streams(c)
      var i = c * Chunk
      val end = math.min(n, i + Chunk)
      while (i < end) { out(i) = row(rnd, i); i += 1 }
    }
    out
  }
}

/** A fixed-size pool for set-up work that splits into independent parts. */
object Par {
  def foreach(n: Int)(f: Int => Unit): Unit = {
    val threads = math.max(1, math.min(n, Runtime.getRuntime.availableProcessors()))
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val ts = Array.fill(threads)(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < n && failure.get() == null) {
        try f(i) catch { case t: Throwable => failure.compareAndSet(null, t) }
        i = next.getAndIncrement()
      }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }
}
