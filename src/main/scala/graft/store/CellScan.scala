package graft.store

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantLock

import graft.functions.{SimdSupport, TopKBuffer, TopKSink, VectorKernels}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One query's row kernel, holding the query in its code's form: scores
  * rows [lo, hi) into `buf`, keyed by `keys(r)`, or by `r` if `keys` is null. */
private[store] trait RowScan {
  def apply(lo: Int, hi: Int, keys: Array[Long], buf: TopKSink): Unit
}

/** A compressed scan code, stored row-major beside a replica's rows. */
private[store] sealed abstract class Code {
  def encode(v: Array[Float]): Any
  def put(slot: Int, v: Any): Unit // v: an encode() result or a Row's column
  @inline protected final def key(keys: Array[Long], r: Int): Long =
    if (keys == null) r else keys(r)
}

/** Product quantization: `m` bytes per row, scored by ADC (m LUT reads). */
private[store] final class PqCode(codes: Array[Byte], m: Int, kSub: Int,
    codebook: Array[Double]) extends Code {
  def encode(v: Array[Float]): Any = VectorKernels.pqEncode(v, codebook, m, kSub)
  def put(slot: Int, v: Any): Unit = {
    val b = v.asInstanceOf[Array[Byte]]
    require(b.length == m, s"code width ${b.length} != $m")
    System.arraycopy(b, 0, codes, slot * m, m)
  }

  /** ADC over four interleaved rows: each sums its LUT entries in pqAdc's
    * serial order (so scores are bitwise pqAdc's), and the four independent
    * add chains hide the FP-add latency one dependent chain would expose. */
  def scan(q: Array[Float]): RowScan = {
    val lut = VectorKernels.pqLut(q, codebook, m, kSub)
    (lo, hi, keys, buf) => {
      var r = lo
      while (r + 4 <= hi) {
        val b = r * m
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        var s = 0
        while (s < m) {
          val o = s * kSub
          a0 += lut(o + (codes(b + s) & 0xff))
          a1 += lut(o + (codes(b + m + s) & 0xff))
          a2 += lut(o + (codes(b + 2 * m + s) & 0xff))
          a3 += lut(o + (codes(b + 3 * m + s) & 0xff))
          s += 1
        }
        buf.insert(a0, key(keys, r)); buf.insert(a1, key(keys, r + 1))
        buf.insert(a2, key(keys, r + 2)); buf.insert(a3, key(keys, r + 3))
        r += 4
      }
      while (r < hi) {
        var a = 0.0
        var s = 0
        while (s < m) { a += lut(s * kSub + (codes(r * m + s) & 0xff)); s += 1 }
        buf.insert(a, key(keys, r))
        r += 1
      }
    }
  }
}

private[store] object BqCode {
  def words(dim: Int): Int = (dim + 63) / 64
  def apply(n: Int, dim: Int): BqCode = new BqCode(new Array[Long](n * words(dim)), words(dim))
}

/** Binary quantization: `words` longs of sign bits per row, XOR+popcount. */
private[store] final class BqCode(codes: Array[Long], words: Int) extends Code {
  def encode(v: Array[Float]): Any = VectorKernels.signPack(v)
  def put(slot: Int, v: Any): Unit = {
    val w = v match {
      case a: Array[Long] => a
      case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Long]).toArray
    }
    require(w.length == words, s"code width ${w.length} != $words")
    System.arraycopy(w, 0, codes, slot * words, words)
  }

  /** Scores are the NEGATED Hamming distance, so score DESC is nearest first. */
  def scan(qc: Array[Long]): RowScan = {
    require(qc.length == words, s"query words ${qc.length} != $words")
    (lo, hi, keys, buf) => {
      var r = lo
      while (r < hi) {
        var ham = 0L
        var w = 0
        while (w < words) { ham += java.lang.Long.bitCount(codes(r * words + w) ^ qc(w)); w += 1 }
        buf.insert(-ham.toDouble, key(keys, r))
        r += 1
      }
    }
  }
}

/** The in-process kNN engine behind every local replica: rows stored
  * cell-major (cell c owns [cellStart(c), cellStart(c+1))) with ids and
  * exact int8 codes; flat replicas are the one-cell case. A search routes
  * to its cells, splits the probed rows evenly over the gang's lanes, scans
  * them with the code's row kernel into bounded heaps (raw tiers keyed by
  * vec_id, rescored ones by row) and may rescore the top `candK` in int8.
  * The heaps' (score DESC, key ASC) order is total, so lane splits never
  * change a result. Unlike the reference's serializing RLock
  * (pythonvectordb.py:362), a caller that loses the one gang's lock scans
  * on its own thread; the arrays are immutable, so reads need no lock. */
private[store] final class CellScan(unitCentroids: Array[Array[Float]],
    cellStart: Array[Int], ids: Array[Long], int8: Array[Short],
    norms: Array[Long], val dim: Int) {

  val count: Int = ids.length
  val numCells: Int = cellStart.length - 1
  val allCells: Array[Int] = Array.range(0, numCells)

  /** The top-`nprobe` cells by dot with the unit centroids (= cosine). */
  def routeCells(q: Array[Float], nprobe: Int): Array[Int] = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    val scores = unitCentroids.map(CellScan.dot(q, _))
    allCells.sortBy(c => (-scores(c), c)).take(nprobe)
  }

  def probedRows(cells: Array[Int]): Int = cells.map(c => cellStart(c + 1) - cellStart(c)).sum

  /** The exact int8 cosine kernel (SimdSupport.scan); vec_id-keyed only. */
  def int8Scan(q: Array[Byte]): RowScan = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    val qs = q.map(_.toShort)
    val nq = VectorKernels.normSqInt8(q)
    (lo, hi, keys, buf) =>
      SimdSupport.scan(int8, norms, keys, lo, hi, dim, qs, nq, buf.asInstanceOf[TopKBuffer])
  }

  /** Exact int8 scan of every probed row (a rescored search at full candK). */
  def exactInProbe(q: Array[Float], topK: Int, nprobe: Int): Seq[(Long, Double)] =
    search(routeCells(q, nprobe), int8Scan(VectorKernels.quantize(q)), topK)

  /** Route, scan the probed cells with `code`, rescore the top `candK`. */
  def searchRescored(q: Array[Float], topK: Int, nprobe: Int, candK: Int,
      code: Array[Float] => RowScan): Seq[(Long, Double)] = {
    val cells = routeCells(q, nprobe)
    require(candK >= topK, s"candK $candK < topK $topK")
    search(cells, code(q), topK, candK, int8Scan(VectorKernels.quantize(q)))
  }

  /** Top-`k` of `cells` by `scan`, or by `rescore` over `scan`'s top `candK`. */
  def search(cells: Array[Int], scan: RowScan, k: Int,
      candK: Int = 0, rescore: RowScan = null): Seq[(Long, Double)] = {
    val total = probedRows(cells)
    val out = new TopKBuffer(k)
    val gang = if (total >= 2 * CellScan.MinChunk) CellScan.gang else null
    if (gang != null && CellScan.gangLock.tryLock()) {
      try {
        val n = gang.n
        val outs = new Array[TopKBuffer](n)
        val heaps = new Array[CandidateHeap](n)
        val candIdx = new Array[Int](candK)
        val doneA = new AtomicInteger(0)
        val cnBox = new AtomicInteger(-1)
        gang.run { w =>
          val from = (total.toLong * w / n).toInt
          val to = (total.toLong * (w + 1) / n).toInt
          if (rescore == null) {
            outs(w) = new TopKBuffer(k)
            scanSpan(cells, from, to, scan, ids, outs(w))
          } else {
            // ONE dispatch (a second halved QPS): scan and sort, the last
            // lane selects the global top candK, all rescore. The select
            // MUST publish (finally) or peers spin on cnBox forever.
            try {
              val h = new CandidateHeap(candK)
              scanSpan(cells, from, to, scan, null, h)
              h.sortIntoDesc()
              heaps(w) = h
            } finally {
              if (doneA.incrementAndGet() == n) {
                var cn = 0
                try cn = CandidateSelect.kWayTopIdx(heaps, candK, candIdx)
                finally cnBox.set(cn) // release: publishes candIdx
              } else while (cnBox.get() < 0) Thread.onSpinWait()
            }
            val o = new TopKBuffer(k)
            var j = w
            while (j < cnBox.get()) { rescore(candIdx(j), candIdx(j) + 1, ids, o); j += n }
            outs(w) = o
          }
        }
        outs.foreach(out.mergeFrom)
      } finally CellScan.gangLock.unlock()
    } else if (rescore == null) scanSpan(cells, 0, total, scan, ids, out)
    else {
      val h = new CandidateHeap(candK)
      scanSpan(cells, 0, total, scan, null, h)
      var j = 0
      while (j < h.size) { val r = h.ids(j).toInt; rescore(r, r + 1, ids, out); j += 1 }
    }
    (0 until out.size).map(j => (out.ids(j), out.scores(j)))
  }

  /** Scan positions [from, to) of the probed cells' concatenated rows. */
  private def scanSpan(cells: Array[Int], from: Int, to: Int, scan: RowScan,
      keys: Array[Long], buf: TopKSink): Unit = {
    var off = 0
    var ci = 0
    while (ci < cells.length && off < to) {
      val lo = cellStart(cells(ci))
      val len = cellStart(cells(ci) + 1) - lo
      val (a, b) = (math.max(from, off) - off, math.min(to, off + len) - off)
      if (a < b) scan(lo + a, lo + b, keys, buf)
      off += len
      ci += 1
    }
  }
}

/** Fills cell-major rows: each row takes the next slot its cell holds. */
private[store] final class Packer(cellStart: Array[Int], dim: Int) {
  private val ids = new Array[Long](cellStart.last)
  private val int8 = new Array[Short](cellStart.last * dim)
  private val norms = new Array[Long](cellStart.last)
  private val fill = cellStart.init.clone()

  /** Store `id` with int8 row `q` in the next slot of `cell`; returns it. */
  def put(cell: Int, id: Long, q: Array[Byte]): Int = {
    val slot = fill(cell)
    require(slot < cellStart(cell + 1),
      s"cell $cell receives more rows than it holds (vec_id $id repeated?)")
    require(q != null, s"vec_id $id has no embedding in the rescore source")
    require(q.length == dim, s"vec_id $id: code width ${q.length} != $dim")
    fill(cell) = slot + 1
    ids(slot) = id
    var s = 0L
    var j = 0
    while (j < dim) { val x = q(j); int8(slot * dim + j) = x; s += x.toLong * x; j += 1 }
    norms(slot) = s
    slot
  }

  def result(unitCentroids: Array[Array[Float]]): CellScan = {
    fill.indices.foreach(c => require(fill(c) == cellStart(c + 1),
      s"cell $c got ${fill(c) - cellStart(c)} of ${cellStart(c + 1) - cellStart(c)} rows: " +
        "the rescore source must cover every indexed vec_id"))
    new CellScan(unitCentroids, cellStart, ids, int8, norms, dim)
  }
}

private[store] object CellScan {
  private[store] val MinChunk = 2048 // rows per lane worth a dispatch
  /** One gang for the process, started by the first search that fans out. */
  lazy val gang: ScanGang = {
    val lanes = math.min(Runtime.getRuntime.availableProcessors(), 16)
    if (lanes > 1) new ScanGang(lanes) else null
  }
  val gangLock = new ReentrantLock()

  /** A one-cell replica whose rows live only in a Code. */
  def codesOnly(ids: Array[Long]): CellScan =
    new CellScan(null, Array(0, ids.length), ids, null, null, 0)

  def starts(counts: Array[Long]): Array[Int] = {
    val total = counts.sum
    require(total <= Int.MaxValue, s"corpus too large ($total rows)")
    counts.scanLeft(0L)(_ + _).map(_.toInt)
  }

  /** Train the coarse cells and pack every row cell-major with its int8
    * code and, if `mk(n, dim)` makes one, its scan code. */
  def train[C <: Code](ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      sample: Int, iters: Int, seed: Long)(mk: (Int, Int) => C): (CellScan, C) = {
    require(ids.length == vecs.length && ids.nonEmpty,
      s"mismatched build input: ${ids.length} ids for ${vecs.length} vectors")
    val cents = trainCentroids(vecs, numCells, sample, iters, seed)
    val cells = vecs.map(argmaxCell(_, cents))
    val counts = new Array[Long](numCells)
    cells.foreach(c => counts(c) += 1)
    val dim = vecs(0).length
    val p = new Packer(starts(counts), dim)
    val code = mk(ids.length, dim)
    var r = 0
    while (r < vecs.length) {
      val slot = p.put(cells(r), ids(r), VectorKernels.quantize(vecs(r)))
      if (code != null) code.put(slot, code.encode(vecs(r)))
      r += 1
    }
    (p.result(cents), code)
  }

  /** Load an at-rest IVF layout: its centroids sidecar and cell assignment
    * verbatim (the frozen-quantizer contract), scan codes from `codeCol`,
    * int8 rows quantized EXECUTOR-side from `emb` (the layout's own
    * embeddings when null). A cell histogram sizes the arrays; rows then
    * stream in by toLocalIterator. Refuses a driver peak of `rowBytes(dim)`
    * per row above `maxLocalBytes`, naming the distributed probe `alt`. */
  def load[C <: Code](spark: SparkSession, path: String, emb: DataFrame,
      codeCol: String, rowBytes: Int => Long, maxLocalBytes: Long, alt: String)(
      mk: (Int, Int) => C): (CellScan, C) = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid").cast("array<float>")).collect() // sidecar-sized
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    require(cents.nonEmpty, s"fromAtRest: no centroids under $path")
    // cells are hive-partition values: remap them to a dense routing index
    val cellOf = cents.map(_._1).zipWithIndex.toMap
    def cell(c: Int): Int = cellOf.getOrElse(c,
      throw new IllegalArgumentException(s"fromAtRest: data cell $c has no centroid"))
    val dim = cents(0)._2.length
    val at = spark.read.parquet(s"$path/data")
    val counts = new Array[Long](cents.length)
    at.groupBy(col("cell")).count().collect()
      .foreach(r => counts(cell(r.getInt(0))) += r.getLong(1))
    val start = starts(counts)
    val peak = start.last * rowBytes(dim)
    require(peak <= maxLocalBytes,
      s"fromAtRest refused: materializing this corpus needs ~$peak bytes " +
        s"of driver heap at peak (> limit $maxLocalBytes). Use $alt " +
        "(distributed), or raise the limit explicitly.")
    // a LEFT join: a vec_id missing from `emb` arrives with a null code
    // and a repeated one overfills its cell; Packer refuses both
    val src = if (emb == null) at
      else at.drop("embedding").join(emb.select("vec_id", "embedding"), Seq("vec_id"), "left")
    val rows = src.select(Seq(col("vec_id"), col("cell"), graft.functions.VectorOps
      .quantizeInt8(col("embedding").cast("array<float>"))) ++ Option(codeCol).map(col): _*)
    val p = new Packer(start, dim)
    val code = mk(start.last, dim)
    val it = rows.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val slot = p.put(cell(r.getInt(1)), r.getLong(0), r.getAs[Array[Byte]](2))
      if (code != null) code.put(slot, r.get(3))
    }
    (p.result(normalize(cents.map(_._2))), code)
  }

  def normalize(cs: Array[Array[Float]]): Array[Array[Float]] = cs.map { c =>
    val n = dot(c, c)
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    c.map(x => (x * inv).toFloat)
  }

  /** v . c accumulated in double, in component order. */
  def dot(v: Array[Float], c: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * c(i); i += 1 }
    s
  }

  /** Cosine argmax = dot argmax against unit centroids (first on ties). */
  def argmaxCell(v: Array[Float], unitCents: Array[Array[Float]]): Int = {
    var best = 0
    var bestS = dot(v, unitCents(0))
    var c = 1
    while (c < unitCents.length) {
      val s = dot(v, unitCents(c))
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  /** Bounded spherical k-means: seeded sample init plus `iters` Lloyd
    * steps over at most `sample` rows. Returns UNIT centroids. */
  def trainCentroids(vecs: Array[Array[Float]], numCells: Int,
      sample: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    require(vecs.nonEmpty, "trainCentroids: empty corpus")
    require(numCells > 0 && numCells <= vecs.length,
      s"trainCentroids: numCells $numCells out of range for ${vecs.length} vectors")
    val dim = vecs(0).length
    val rnd = new scala.util.Random(seed)
    val rows = if (vecs.length <= sample) vecs else Array.fill(sample)(vecs(rnd.nextInt(vecs.length)))
    var cents = normalize(rnd.shuffle(rows.indices.toVector).take(numCells).map(rows(_)).toArray)
    (0 until iters).foreach { _ =>
      val sums = Array.fill(numCells)(new Array[Double](dim))
      val ns = new Array[Int](numCells)
      rows.foreach { v =>
        val c = argmaxCell(v, cents)
        val s = sums(c)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        ns(c) += 1
      }
      cents = normalize(Array.tabulate(numCells) { c =>
        if (ns(c) == 0) cents(c) // an empty cell keeps its centroid
        else sums(c).map(x => (x / ns(c)).toFloat)
      })
    }
    cents
  }
}
