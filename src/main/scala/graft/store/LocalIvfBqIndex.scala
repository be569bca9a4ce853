package graft.store

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Hamming twin of [[LocalIvfPqIndex]]: XOR+popcount-scan the probed
  * cells' sign bits (16 B/row at dim 128), rescore the top `candK` in
  * int8. With candK >= the probed rows it EQUALS exactInProbe. */
final class LocalIvfBqIndex private (e: CellScan, bq: BqCode) {
  val dim: Int = e.dim
  val numCells: Int = e.numCells
  val count: Int = e.count

  /** Rows Hamming-scanned by an `nprobe`-cell probe of this query. */
  def probedRows(q: Array[Float], nprobe: Int): Int = e.probedRows(e.routeCells(q, nprobe))

  /** Same routing, exact int8 scan of EVERY probed row. */
  def exactInProbe(q: Array[Float], topK: Int, nprobe: Int): Seq[(Long, Double)] =
    e.exactInProbe(q, topK, nprobe)

  /** Route, Hamming-scan, rescore the top `candK` exactly: top-`topK`. */
  def search(q: Array[Float], topK: Int, nprobe: Int, candK: Int): Seq[(Long, Double)] =
    e.searchRescored(q, topK, nprobe, candK, v => bq.scan(VectorKernels.signPack(v)))
}

object LocalIvfBqIndex {

  /** Replica of an at-rest [[IvfBqIndex]] layout: its SAME centroids and
    * sign codes, rescored in int8 from the float source `emb`, which must
    * hold every indexed vec_id exactly once. */
  def fromAtRest(spark: SparkSession, path: String, emb: DataFrame,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfBqIndex = {
    val (e, bq) = CellScan.load(spark, path, emb, "code", d => 8L * BqCode.words(d) + 7L * d + 96,
      maxLocalBytes, "IvfBqIndex.probe")(BqCode.apply)
    new LocalIvfBqIndex(e, bq)
  }

  /** Train the k-means cells; sign-bit scan codes. */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfBqIndex = {
    val (e, bq) = CellScan.train(ids, vecs, numCells, nprobeSample, iters, seed)(BqCode.apply)
    new LocalIvfBqIndex(e, bq)
  }
}
