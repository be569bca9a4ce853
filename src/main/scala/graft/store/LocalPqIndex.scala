package graft.store

/** In-process PQ serving replica: the ADC twin of LocalIndex's int8 scan.
  * Each row costs m LUT reads + adds instead of dim multiply-adds, and a
  * 50k-row corpus is m bytes/row (400 KB at m = 8, L2-resident). Scores
  * are approximate (quantized to the codebook) and bitwise
  * VectorKernels.pqAdc's. The one-cell, PQ-code, unrescored case of
  * [[CellScan]]. `codes` is row-major n*m bytes (row r at [r*m, r*m+m)). */
final class LocalPqIndex(ids: Array[Long], codes: Array[Byte],
    m: Int, k: Int, codebook: Array[Double]) {
  require(ids.nonEmpty, "empty index")
  require(codes.length == ids.length * m, s"codes ${codes.length} != ${ids.length}*$m")
  private val e = CellScan.codesOnly(ids)
  private val pq = new PqCode(codes, m, k, codebook)
  val count: Int = ids.length

  /** ADC top-`topK` (score DESC, id ASC) for a raw float query. */
  def search(q: Array[Float], topK: Int): Seq[(Long, Double)] =
    e.search(e.allCells, pq.scan(q), topK)
}
