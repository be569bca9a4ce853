package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.functions.VectorKernels
import graft.store.{IvfBqIndex, IvfIndex, VectorStore}

/** `store`: the VectorStore and at-rest IVF lifecycle, one client, writes
  * beside reads. Every operation is Spark jobs, planning and parquet
  * commits, which `serve` never reaches. It runs but is not in
  * BENCHMARK.json: its runs are too long and spread too wide on a 4-vCPU
  * host to bound (README.md).
  *
  * A round is one whole lifecycle on a fresh store, so every round does
  * the same work: batched inserts with searches (half filtered on meta)
  * and lookups between them; deletes that cross the 1,000-tombstone
  * compaction threshold; stats; save, saveVersion and load, then a lookup
  * and a search on the loaded store; npz export and import; and build,
  * append, probe and rebuild of the at-rest IvfIndex, and build and probe
  * of IvfBqIndex, on a smaller labelled corpus. IvfPqIndex and BQ
  * maintenance are left out to keep a round near 10 s: IvfPqIndex's build
  * alone trains a PQ codebook in about 30 Spark jobs (`serve` trains the
  * same codebook in its set-up). The timed rounds check each step's
  * outputs, outside the timed operations. */
object Store extends Workload {
  val name = "store"
  val minRounds = 2

  val Dim = 128
  val K = 10
  val Batches = 2
  val BatchN = 1500
  val DeleteBatches = 2
  val DeleteN = 600
  val Cats = 4
  val AtN = 2000
  val AtAppend = 500
  val AtDim = 64
  val Labels = 16
  val NProbe = 4
  val Buckets = 4

  final class State(
      val vecs: Array[Array[Float]], val batches: Array[DataFrame],
      val queries: Array[Array[Float]], val deletes: Array[Seq[String]],
      val atVecs: Array[Array[Float]], val atBase: DataFrame, val atNew: DataFrame,
      val atAll: DataFrame)

  private def id(i: Int) = s"v$i"
  private def cat(i: Int) = s"c${i % Cats}"

  def setup(ctx: Ctx): State = {
    val spark = ctx.phase("session")(ctx.newSession())
    ctx.phase("inputs") {
      import spark.implicits._
      val n = Batches * BatchN
      val (vecs, _) = Gen.clustered(ctx.seed, n, Dim, 64)
      val batches = Array.tabulate(Batches) { b =>
        (b * BatchN until (b + 1) * BatchN)
          .map(i => (id(i), vecs(i), Map("cat" -> cat(i), "batch" -> b.toString)))
          .toDF("id", "embedding", "meta")
      }
      val queries = Gen.nearQueries(ctx.seed + 1, vecs, 64, 0.5f)
      val perm = Gen.permutation(ctx.seed + 2, n)
      val deletes = Array.tabulate(DeleteBatches)(d =>
        perm.slice(d * DeleteN, (d + 1) * DeleteN).toSeq.map(id))
      val (atVecs, labels) = Gen.clustered(ctx.seed + 3, AtN + AtAppend, AtDim, Labels, spread = 3f)
      val at = atVecs.indices.map(i => (i.toLong, atVecs(i), labels(i)))
      val atAll = at.toDF("vec_id", "embedding", "label")
      new State(vecs, batches, queries, deletes, atVecs,
        at.take(AtN).toDF("vec_id", "embedding", "label"),
        at.drop(AtN).toDF("vec_id", "embedding", "label"), atAll)
    }
  }

  /** One operation: a root span with the VectorStore or index call as
    * its `store` child. */
  private def call[T](name: String)(body: => T)(implicit ctx: Ctx): T =
    ctx.op(name)(ctx.trace.span(s"store.$name", "store")(body))

  /** The checks run in timed rounds only: the warm-up round is the same
    * work. */
  private def verify(name: String)(cond: => Boolean)(implicit ctx: Ctx): Unit =
    if (ctx.measuring) ctx.check(name)(cond)

  def warmup(st: State, ctx: Ctx): Unit = round(st, ctx, -1)

  def round(st: State, ctx0: Ctx, r: Int): Unit = {
    implicit val ctx: Ctx = ctx0
    val spark = ctx.spark
    val dir = new java.io.File(ctx.work, s"round$r")
    val path = s"${dir.getPath}/store"
    var live = Set.empty[Int]
    var qn = 0
    def nextQuery() = { qn += 1; st.queries(Math.floorMod((r + 1) * 7 + qn, st.queries.length)) }
    try {
      val store = VectorStore.create(spark, Dim)

      // inserts, with a search and a lookup after each batch
      (0 until Batches).foreach { b =>
        call("add")(store.addVectors(st.batches(b)))
        live ++= (b * BatchN until (b + 1) * BatchN)
        val q = nextQuery()
        val filtered = b % 2 == 1
        val res = if (filtered)
          call("search_filtered")(store.search(q, K, Some(col("meta")("cat") === "c1")).collect())
        else call("search")(store.search(q, K).collect())
        checkSearch(st, res, q, if (filtered) live.filter(i => cat(i) == "c1") else live)
        val g = (b * BatchN) + (qn * 131 % BatchN)
        val v = call("get")(store.getVector(id(g)))
        verify("getVector returns dequantize(quantize(v))")(
          v.exists(_.sameElements(VectorKernels.dequantize(VectorKernels.quantize(st.vecs(g))))))
      }
      verify("count after inserts")(store.count == Batches * BatchN)

      // deletes past the compaction threshold, then stats
      st.deletes.foreach { d =>
        val hit = call("delete")(store.delete(d))
        verify("delete hits every live id")(hit == d.size)
      }
      val deleted = st.deletes.flatten.toSet
      live = live.filterNot(i => deleted(id(i)))
      val stats = call("stats")(store.stats)
      verify("stats count after deletes and compaction")(
        stats("count") == live.size.toLong && stats("deleted_pending") == 0L)
      verify("a deleted id never comes back")(store.getVector(st.deletes.head.head).isEmpty)

      // persist and load, then read through the at-rest path
      call("save")(store.save(path, Buckets))
      call("save_version")(store.saveVersion(s"${dir.getPath}/versions", Buckets))
      val loaded = call("load")(VectorStore.load(spark, path))
      verify("save/load round-trips ids and qvec")(qvecs(loaded) == qvecs(store))
      val g = live.toSeq.sorted.apply(qn * 977 % live.size)
      val v = call("get_at_rest")(loaded.getVector(id(g)))
      verify("at-rest getVector returns dequantize(quantize(v))")(
        v.exists(_.sameElements(VectorKernels.dequantize(VectorKernels.quantize(st.vecs(g))))))
      val q = nextQuery()
      val res = call("search_loaded")(loaded.search(q, K).collect())
      checkSearch(st, res, q, live)
      val npz = s"${dir.getPath}/store.npz"
      call("export_npz")(store.exportNpz(npz))
      val imported = call("import_npz")(VectorStore.importNpz(spark, npz))
      verify("npz export/import round-trips ids and qvec")(qvecs(imported) == qvecs(store))

      // the three at-rest IVF tiers
      atRest(st, "ivf", s"${dir.getPath}/ivf",
        p => IvfIndex.build(st.atBase, p), Some(p => IvfIndex.append(st.atNew, p)),
        (p, q, np) => IvfIndex.probe(spark, p, q, K, np), Some(p => IvfIndex.rebuild(spark, p)),
        exact = true)
      atRest(st, "ivfbq", s"${dir.getPath}/ivfbq",
        p => IvfBqIndex.build(st.atAll, p), None,
        (p, q, np) => IvfBqIndex.probe(spark, p, q, K, np), None,
        exact = false)
    } finally Main.deleteTree(dir)
  }

  private def atRest(st: State, tier: String, path: String,
      build: String => Unit, append: Option[String => Unit],
      probe: (String, Array[Float], Int) => DataFrame, rebuild: Option[String => Int],
      exact: Boolean)(implicit ctx: Ctx): Unit = {
    call(s"$tier.build")(build(path))
    append.foreach(a => call(s"$tier.append")(a(path)))
    val q = st.atVecs(17)
    val got = call(s"$tier.probe")(probe(path, q, NProbe).collect())
    verify(s"$tier probe returns $K distinct ids")(
      got.length == K && got.map(_.getLong(0)).distinct.length == K)
    rebuild.foreach(b => call(s"$tier.rebuild")(b(path)))
    if (exact)
      verify(s"$tier full probe equals the exact top-$K")(
        probe(path, q, Labels).collect().map(_.getLong(0)).toSeq == exactTop(st.atVecs, q))
  }

  /** id -> qvec of the store's live rows. */
  private def qvecs(s: VectorStore): Map[String, Seq[Byte]] =
    s.active.select("id", "qvec").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  /** The search returned the top-K of `among` by the store's scoring
    * (float query against the dequantized int8 row), ties by id. */
  private def checkSearch(st: State, res: Array[Row], q: Array[Float],
      among: Set[Int])(implicit ctx: Ctx): Unit = verify("search equals the brute-force top-10") {
    val want = among.toSeq
      .map(i => (id(i), VectorKernels.cosineFloatInt8(q, VectorKernels.quantize(st.vecs(i)))))
      .sortBy { case (i, s) => (-s, i) }.take(K).map(_._1)
    res.map(_.getString(0)).toSeq == want
  }

  private def exactTop(vecs: Array[Array[Float]], q: Array[Float]): Seq[Long] =
    vecs.indices.map(i => (i.toLong, VectorKernels.cosineFloat(q, vecs(i))))
      .sortBy { case (i, s) => (-s, i) }.take(K).map(_._1)

  def check(st: State, ctx: Ctx): Unit = () // each round checks its own steps
}
