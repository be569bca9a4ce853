package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._
import graft.streaming._

/** `analytics`: registry queries and streaming tiers on the bundled
  * sf0.01 fixture, one client, in a seed-shuffled order.
  *
  * Seven queries span the vector, relational, text and labeler families:
  * the connected-component labeler is bound by job count and carries
  * eager checkpoints in its build, the relational queries are one-task
  * scans, and q_textrank's plan grows with its iterations. None memoizes,
  * so nothing is built ahead of the timed call. A query is timed as its
  * build (the `fn` call) plus its execution into Spark's no-op sink.
  * Two streaming tiers (a windowed aggregate and dedup, both stateful)
  * each run to completion into the memory sink.
  *
  * Correctness: every result's order-independent hash must equal the one
  * recorded in `expected_sf0.01.tsv`. The query results behind those
  * hashes match the DuckDB oracle on this fixture. */
object Analytics extends Workload {
  val name = "analytics"
  val minRounds = 2

  val Queries: Seq[String] = Seq(
    "q_knn", "q_knn_filtered", "q1_agg", "q3_join",
    "q_minhash_lsh", "q_textrank", "q_cc_doubling")

  val Streams: Seq[(String, (SparkSession, String, String) => DataFrame)] = Seq(
    "EventsStream" -> ((s, d, n) => EventsStream.runOnce(s, d, n)),
    "StreamDedup" -> ((s, d, n) => StreamDedup.runOnce(s, d, n)))

  final class State(val dataDir: String, val order: Seq[String],
      val fns: Map[String, (SparkSession, String) => DataFrame], val expected: Map[String, String]) {
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  }

  def setup(ctx: Ctx): State = {
    val spark = ctx.phase("session")(ctx.newSession())
    ctx.phase("inputs") {
      val dataDir = new java.io.File(ctx.home, "data/sf0.01").getAbsolutePath
      val expectedFile = new java.io.File(ctx.home, "expected_sf0.01.tsv")
      val registry = (VectorQueries.all ++ SimilarityQueries.all ++ RelationalQueries.all ++
        TextQueries.all).map(q => q.name -> q.fn).toMap
      val fns = Queries.map(q => q -> registry.getOrElse(q, sys.error(s"no registry query $q"))).toMap
      // the fixture's tables, read once so their footers are known
      new java.io.File(dataDir).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getPath).schema)
      val expected =
        if (!expectedFile.exists()) Map.empty[String, String]
        else scala.io.Source.fromFile(expectedFile).getLines()
          .filter(_.contains('\t')).map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      val names = Queries ++ Streams.map(_._1)
      new State(dataDir, Gen.permutation(ctx.seed, names.size).map(names).toSeq, fns, expected)
    }
  }

  private val streamFns = Streams.toMap
  private var streamRun = 0

  /** Run one item timed: a query's build plus execution into the no-op
    * sink, or a streaming tier's run into the memory sink. */
  private def item(st: State, ctx: Ctx, name: String): Unit = {
    val spark = ctx.spark
    st.fns.get(name) match {
      case Some(fn) =>
        ctx.op(name) {
          val df = ctx.trace.span("ops.build", "ops")(fn(spark, st.dataDir))
          ctx.trace.span("spark.execute", "spark")(
            df.write.format("noop").mode("overwrite").save())
        }
      case None =>
        val table = stream(name)
        ctx.op(name)(ctx.trace.span("streaming.runOnce", "streaming")(
          streamFns(name)(spark, st.dataDir, table)))
        spark.catalog.dropTempView(table)
    }
  }

  private def stream(name: String): String = { streamRun += 1; s"pb_${name.toLowerCase}_$streamRun" }

  /** One untimed pass that hashes every result. Spark's code is still
    * warming after it: a pass gets a few per cent faster for several more
    * passes, which a run has no time for. */
  def warmup(st: State, ctx: Ctx): Unit = st.order.foreach { name =>
    val spark = ctx.spark
    val rows = st.fns.get(name) match {
      case Some(fn) => ctx.op(name)(fn(spark, st.dataDir).collect())
      case None =>
        val table = stream(name)
        val r = ctx.op(name)(streamFns(name)(spark, st.dataDir, table).collect())
        spark.catalog.dropTempView(table)
        r
    }
    st.hashes(name) = Stats.resultHash(rows.iterator)
  }

  def round(st: State, ctx: Ctx, r: Int): Unit = st.order.foreach(item(st, ctx, _))

  def check(st: State, ctx: Ctx): Unit = {
    // --record: how the recorded hashes are made
    ctx.record.foreach(f => java.nio.file.Files.writeString(f.toPath,
      st.hashes.toSeq.sorted.map { case (n, h) => s"$n\t$h\n" }.mkString))
    (Queries ++ Streams.map(_._1)).foreach { n =>
      ctx.check(s"$n result hash ${st.hashes.getOrElse(n, "-")} equals the recorded hash")(
        st.hashes.get(n).exists(h => st.expected.get(n).contains(h)))
    }
  }
}
