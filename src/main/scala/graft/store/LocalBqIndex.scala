package graft.store

import graft.functions.VectorKernels

/** In-process binary-quantization serving replica: each row costs
  * ceil(dim/64) XOR+popcount word ops, and a 50k-row corpus at dim 128 is
  * 800 KB (L2-resident, 16x smaller than int8). Scores are the NEGATED
  * Hamming distance, ties by ascending id like every other tier. The
  * one-cell, BQ-code, unrescored case of [[CellScan]]. `codes` is
  * row-major n*words longs (row r at [r*words, r*words+words)). */
final class LocalBqIndex(ids: Array[Long], codes: Array[Long], words: Int) {
  require(ids.nonEmpty, "empty index")
  require(codes.length == ids.length * words, s"codes ${codes.length} != ${ids.length}*$words")
  private val e = CellScan.codesOnly(ids)
  private val bq = new BqCode(codes, words)
  val count: Int = ids.length

  /** Top-`topK` by ascending Hamming distance for a pre-packed query code. */
  def search(q: Array[Long], topK: Int): Seq[(Long, Double)] =
    e.search(e.allCells, bq.scan(q), topK)
}

object LocalBqIndex {
  /** Pack float vectors (ids aligned by index) into a replica. */
  def build(ids: Array[Long], vecs: Array[Array[Float]]): LocalBqIndex = {
    require(ids.length == vecs.length && ids.nonEmpty, "mismatched build input")
    val words = BqCode.words(vecs(0).length)
    val codes = new Array[Long](ids.length * words)
    vecs.indices.foreach(r => System.arraycopy(VectorKernels.signPack(vecs(r)), 0, codes, r * words, words))
    new LocalBqIndex(ids, codes, words)
  }
}
