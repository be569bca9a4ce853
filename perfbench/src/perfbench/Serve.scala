package perfbench

import graft.functions.{SimdSupport, TopKBuffer, VectorKernels}
import graft.ops.PqQueries
import graft.store._

/** `serve`: read-only kNN on the in-process replicas, one closed-loop
  * client, no Spark job on the timed path.
  *
  * Two seeded corpora. `ref50k` is the reference protocol: 50,000 x 128
  * Gaussian vectors on the flat int8 `LocalIndex`, whose arrays fit in
  * cache, so dispatch, merge and allocation dominate. `ann` is a
  * clustered corpus served by five approximate tiers (three IVF replicas
  * and flat PQ and BQ), where scan bandwidth and routing dominate. Each
  * round sends one query to every tier, in a fixed order. */
object Serve extends Workload {
  val name = "serve"
  val minRounds = 1

  val Dim = 128
  val K = 10
  val RefN = 50000
  val AnnN = 100000
  val AnnClusters = 256
  val Cells = 128
  val NProbe = 8
  val CandK = 512
  val Pool = 512
  val Tiers: Seq[String] = Seq("ref_flat", "ivf", "ivfpq", "ivfbq", "pq", "bq")

  final class State(
      val refIds: Array[Long], val refCodes: Array[Array[Byte]],
      val ref: LocalIndex, val refQ: Array[Array[Byte]],
      val annVecs: Array[Array[Float]], val annQ: Array[Array[Float]],
      val ivf: LocalIvfIndex, val ivfPq: LocalIvfPqIndex,
      val ivfBq: LocalIvfBqIndex, val pq: LocalPqIndex, val bq: LocalBqIndex) {
    // results of timed requests, kept for the checks: (tier, query, result)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Seq[(Long, Double)])]
  }

  def setup(ctx: Ctx): State = {
    val spark = ctx.phase("session")(ctx.newSession())
    val (refIds, refCodes, refQ, annVecs, annQ) = ctx.phase("inputs") {
      val refVecs = Gen.gaussian(ctx.seed, RefN, Dim)
      val refCodes = refVecs.map(VectorKernels.quantize)
      val refQ = Gen.gaussian(ctx.seed + 1, Pool, Dim).map(VectorKernels.quantize)
      val (annVecs, _) = Gen.clustered(ctx.seed + 2, AnnN, Dim, AnnClusters)
      val annQ = Gen.nearQueries(ctx.seed + 3, annVecs, Pool, 0.5f)
      (Array.tabulate(RefN)(_.toLong), refCodes, refQ, annVecs, annQ)
    }
    val st = ctx.phase("build") {
      val annIds = Array.tabulate(AnnN)(_.toLong)
      val codebook = {
        import spark.implicits._
        val sample = Gen.permutation(ctx.seed + 4, AnnN).take(2 * PqQueries.TrainCap)
        PqQueries.trainCodebookOn(
          sample.toSeq.map(i => (i.toLong, annVecs(i))).toDF("vec_id", "embedding"))
      }
      val flat = new Array[Byte](RefN * Dim)
      refCodes.zipWithIndex.foreach { case (c, i) => System.arraycopy(c, 0, flat, i * Dim, Dim) }
      // the five replicas train independently; build them side by side
      val built = new Array[AnyRef](6)
      Par.foreach(6) {
        case 0 => built(0) = new LocalIndex(Array(VectorBlock(refIds, flat, Dim)), Dim)
        case 1 => built(1) = LocalIvfIndex.train(annIds, annVecs, Cells)
        case 2 => built(2) = LocalIvfPqIndex.train(annIds, annVecs, Cells,
          PqQueries.M, PqQueries.K, codebook)
        case 3 => built(3) = LocalIvfBqIndex.train(annIds, annVecs, Cells)
        case 4 =>
          val codes = new Array[Byte](AnnN * PqQueries.M)
          var i = 0
          while (i < AnnN) {
            System.arraycopy(VectorKernels.pqEncode(annVecs(i), codebook, PqQueries.M, PqQueries.K),
              0, codes, i * PqQueries.M, PqQueries.M)
            i += 1
          }
          built(4) = new LocalPqIndex(annIds, codes, PqQueries.M, PqQueries.K, codebook)
        case 5 => built(5) = LocalBqIndex.build(annIds, annVecs)
      }
      new State(refIds, refCodes, built(0).asInstanceOf[LocalIndex], refQ, annVecs, annQ,
        built(1).asInstanceOf[LocalIvfIndex], built(2).asInstanceOf[LocalIvfPqIndex],
        built(3).asInstanceOf[LocalIvfBqIndex], built(4).asInstanceOf[LocalPqIndex],
        built(5).asInstanceOf[LocalBqIndex])
    }
    // nothing on the serving path uses Spark: only the replicas stay reachable
    ctx.stopSession()
    st
  }

  /** One request to `tier` with query number `i`. */
  private def request(st: State, tier: Int, i: Int): Seq[(Long, Double)] = {
    val qf = st.annQ(i % Pool)
    tier match {
      case 0 => st.ref.search(st.refQ(i % Pool), K)
      case 1 => st.ivf.search(VectorKernels.quantize(qf), K, NProbe)
      case 2 => st.ivfPq.search(qf, K, NProbe, CandK)
      case 3 => st.ivfBq.search(qf, K, NProbe, CandK)
      case 4 => st.pq.search(qf, K)
      case 5 => st.bq.search(VectorKernels.signPack(qf), K)
    }
  }

  private def rowsScanned(st: State, tier: Int, i: Int): Long = {
    val qf = st.annQ(i % Pool)
    tier match {
      case 0 => RefN
      case 1 => st.ivf.probedRows(VectorKernels.quantize(qf), NProbe)
      case 2 => st.ivfPq.probedRows(qf, NProbe)
      case 3 => st.ivfBq.probedRows(qf, NProbe)
      case _ => AnnN
    }
  }

  private val KeepPerTier = 40

  def round(st: State, ctx: Ctx, r: Int): Unit = {
    var t = 0
    while (t < Tiers.length) {
      val tier = t
      val res = ctx.op(Tiers(tier)) {
        ctx.trace.span(s"store.${Tiers(tier)}.search", "store")(request(st, tier, r))
      }
      if (ctx.measuring) {
        if (r < KeepPerTier) st.kept += ((tier, r, res))
        if (ctx.trace.on) ctx.count(rowsScanned(st, tier, r), corpus = if (tier == 0) RefN else AnnN)
      }
      t += 1
    }
  }

  def warmup(st: State, ctx: Ctx): Unit = {
    val end = System.nanoTime() + 1000000000L
    var r = 0
    while (System.nanoTime() < end) { round(st, ctx, r); r += 1 }
  }

  def check(st: State, ctx: Ctx): Unit = {
    // flat search equals a single-thread kernel scan over the same rows,
    // ids and scores bit for bit
    val data = new Array[Short](RefN * Dim)
    val norms = new Array[Long](RefN)
    var i = 0
    while (i < RefN) {
      val c = st.refCodes(i)
      var j = 0
      while (j < Dim) { data(i * Dim + j) = c(j).toShort; j += 1 }
      norms(i) = VectorKernels.normSqInt8(c)
      i += 1
    }
    def scan(q: Array[Byte]): Seq[(Long, Double)] = {
      val buf = new TopKBuffer(K)
      SimdSupport.scan(data, norms, st.refIds, 0, RefN, Dim, q.map(_.toShort),
        VectorKernels.normSqInt8(q), buf)
      (0 until buf.size).map(j => (buf.ids(j), buf.scores(j)))
    }
    st.kept.filter(_._1 == 0).foreach { case (_, r, res) =>
      ctx.check("ref_flat equals the kernel scan")(res == scan(st.refQ(r % Pool)))
    }
    // approximate tiers: well-formed answers, and recall@10 against the
    // exact float top-10 computed here
    val exact = st.kept.map(_._2).distinct.map(r => r -> exactTop(st.annVecs, st.annQ(r % Pool))).toMap
    val recall = Tiers.indices.drop(1).map { t =>
      val rs = st.kept.filter(_._1 == t).map { case (_, r, res) =>
        ctx.check(s"${Tiers(t)} returns $K distinct ids")(
          res.size == K && res.map(_._1).distinct.size == K &&
            res.forall { case (id, _) => id >= 0 && id < AnnN })
        res.map(_._1).count(exact(r).contains).toDouble / K
      }
      val m = if (rs.isEmpty) 0.0 else rs.sum / rs.size
      ctx.check(f"${Tiers(t)} recall@10 $m%.3f >= ${RecallFloor(Tiers(t))}")(m >= RecallFloor(Tiers(t)))
      Tiers(t) -> m
    }
    ctx.detail("recall_at_10", recall.toMap)
    ctx.detail("recall_at_10_mean", recall.map(_._2).sum / recall.size)
  }

  /** Sanity floors, about half the recall each tier reaches on this
    * corpus (IVF tiers ~0.89, flat PQ ~0.095, flat BQ ~0.23; a random
    * answer scores 0.0001). */
  private val RecallFloor = Map("ivf" -> 0.45, "ivfpq" -> 0.45, "ivfbq" -> 0.45,
    "pq" -> 0.04, "bq" -> 0.1)

  private def exactTop(vecs: Array[Array[Float]], q: Array[Float]): Set[Long] = {
    val buf = new TopKBuffer(K)
    var i = 0
    while (i < vecs.length) { buf.insert(cosine(vecs(i), q), i.toLong); i += 1 }
    (0 until buf.size).map(buf.ids(_)).toSet
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / math.sqrt(na * nb)
  }
}
