package graft.store

import org.apache.spark.sql.SparkSession

/** IVF-pruned in-process serving index, the int8-code case of [[CellScan]]:
  * a query (routed through its exact float copy) scans only its `nprobe`
  * nearest cells with LocalIndex's exact int8 cosine, so recall against
  * the flat scan is a pure routing property (LocalIvfSpec). */
final class LocalIvfIndex private (e: CellScan) {
  val dim: Int = e.dim
  val numCells: Int = e.numCells
  val count: Int = e.count

  /** Rows scanned by an `nprobe`-cell probe of this query. */
  def probedRows(q: Array[Byte], nprobe: Int): Int =
    e.probedRows(e.routeCells(q.map(_.toFloat), nprobe))

  def search(q: Array[Byte], k: Int, nprobe: Int): Seq[(Long, Double)] =
    e.search(e.routeCells(q.map(_.toFloat), nprobe), e.int8Scan(q), k)
}

object LocalIvfIndex {

  /** Driver-side k-means cells, for corpora without an at-rest layout. */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfIndex =
    new LocalIvfIndex(CellScan.train(ids, vecs, numCells, nprobeSample, iters, seed)(
      (_, _) => null)._1)

  /** Replica of an at-rest [[IvfIndex]] layout on its SAME centroids
    * sidecar: a rebuild() refreshes replicas on their next load. */
  def fromAtRest(spark: SparkSession, path: String,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfIndex =
    // peak per row: short data (2*dim) + ids + norms, plus the streamed
    // byte code (dim + ~48 object overhead)
    new LocalIvfIndex(CellScan.load(spark, path, null, null, d => 7L * d + 64,
      maxLocalBytes, "IvfIndex.probe")((_, _) => null)._1)
}
