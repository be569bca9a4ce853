package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF routing composed with PQ and an exact rescore (FAISS `IVFx,PQy` +
  * refine): ADC-scan the probed cells' m-byte codes, rescore the top
  * `candK` exactly in int8 (candK rows per query, never scanned). With
  * candK >= the probed rows it EQUALS exactInProbe (LocalIvfQuantSpec). */
final class LocalIvfPqIndex private (e: CellScan, pq: PqCode) {
  val dim: Int = e.dim
  val numCells: Int = e.numCells
  val count: Int = e.count

  /** Rows ADC-scanned by an `nprobe`-cell probe of this query. */
  def probedRows(q: Array[Float], nprobe: Int): Int = e.probedRows(e.routeCells(q, nprobe))

  /** Same routing, exact int8 scan of EVERY probed row. */
  def exactInProbe(q: Array[Float], topK: Int, nprobe: Int): Seq[(Long, Double)] =
    e.exactInProbe(q, topK, nprobe)

  /** Route, ADC-scan, rescore the top `candK` exactly: top-`topK`. */
  def search(q: Array[Float], topK: Int, nprobe: Int, candK: Int): Seq[(Long, Double)] =
    e.searchRescored(q, topK, nprobe, candK, pq.scan)
}

object LocalIvfPqIndex {

  /** Replica of a plain-PQ at-rest [[IvfPqIndex]] layout: its SAME centroids
    * and codes, rescored in int8 from the float source `emb` (the layout
    * keeps no floats), which must hold every indexed vec_id exactly once.
    * OPQ and residual layouts are refused by their format flags: their
    * coding spaces need probe-side rotation or per-cell q·c constants. */
  def fromAtRest(spark: SparkSession, path: String, emb: DataFrame,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfPqIndex = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("rotation" -> "OPQ-rotated", "residual" -> "residual-coded").foreach { case (flag, what) =>
      require(!fs.exists(new Path(s"$path/$flag")),
        s"fromAtRest: $what layout — use IvfPqIndex.probe (distributed)")
    }
    val (m, kSub) = (graft.ops.PqQueries.M, graft.ops.PqQueries.K)
    val cb = spark.read.parquet(s"$path/codebook").orderBy("idx").collect().map(_.getDouble(1))
    val (e, pq) = CellScan.load(spark, path, emb, "codes", d => m + 7L * d + 96,
      maxLocalBytes, "IvfPqIndex.probe")((n, _) => new PqCode(new Array[Byte](n * m), m, kSub, cb))
    new LocalIvfPqIndex(e, pq)
  }

  /** Train the k-means cells; PQ codes from the caller's codebook. */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      m: Int, kSub: Int, codebook: Array[Double],
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfPqIndex = {
    val (e, pq) = CellScan.train(ids, vecs, numCells, nprobeSample, iters, seed)(
      (n, _) => new PqCode(new Array[Byte](n * m), m, kSub, codebook))
    new LocalIvfPqIndex(e, pq)
  }
}
