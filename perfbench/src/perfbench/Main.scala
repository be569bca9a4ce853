package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: built by `setup`, driven one `round` at a time by a
  * single closed-loop client, then checked. */
trait Workload {
  type State
  val name: String
  /** Rounds the timed loop runs at least, however long they take. */
  val minRounds: Int
  def setup(ctx: Ctx): State
  def warmup(st: State, ctx: Ctx): Unit
  def round(st: State, ctx: Ctx, r: Int): Unit
  def check(st: State, ctx: Ctx): Unit
}

/** What a workload sees of the harness: the seed, the Spark session, the
  * trace, and the accounting of operations, checks and set-up phases. */
final class Ctx(val seed: Long, val trace: Trace, val work: java.io.File,
    val home: java.io.File, val record: Option[java.io.File]) {
  val cores = 4
  @volatile var measuring = false
  var attempted = 0L
  var failed = 0L
  val latMs = mutable.ArrayBuffer.empty[Double]
  val phases = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]
  var rowsScanned = 0L
  var rowsHeld = 0L
  private var session: Option[SparkSession] = None

  def spark: SparkSession = session.getOrElse(sys.error("no Spark session"))

  /** A fresh local session with the project's session settings, its
    * scratch space under the work directory. */
  def newSession(): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new java.io.File(work, "ckpt").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new java.io.File(work, "rdd-ckpt").getPath)
    session = Some(s)
    s
  }

  def stopSession(): Unit = {
    session.foreach { s => trace.detach(); s.stop() }
    session = None
  }

  def hasSession: Boolean = session.isDefined

  /** Time one set-up phase of the current set-up. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  /** One operation of the client: a root span, its latency recorded while
    * measuring. A thrown exception counts the operation as failed and ends
    * the round. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    try trace.span(name, "bench") {
      val t0 = System.nanoTime()
      val r = body
      if (measuring) latMs += (System.nanoTime() - t0) / 1e6
      r
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        throw e
    }
  }

  /** A correctness check, run outside the timed operations. A check that
    * is false or throws counts as one failed operation. */
  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check '$name' threw $e"); false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name")
    }
  }

  /** Rows an operation scanned, against the rows the index holds. */
  def count(scanned: Long, corpus: Long): Unit = { rowsScanned += scanned; rowsHeld += corpus }

  def detail(key: String, v: Any): Unit = details(key) = v
}

object Main {

  /** `store` runs but is not in BENCHMARK.json (see README.md). */
  val Workloads: Seq[Workload] = Seq(Serve, Analytics, Store)
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.find(_.name == opts("workload"))
      .getOrElse(sys.error(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = new java.io.File(opts("out"))
    val work = new java.io.File(out, s"work-${ProcessHandle.current().pid()}")
    work.mkdirs()
    // exit explicitly: a Spark thread left running must not keep the JVM up
    val code =
      try {
        val ctx = new Ctx(seed, new Trace(traced), work, new java.io.File(opts("home")),
          opts.get("record").map(new java.io.File(_)))
        println(Json.render(run(w, ctx, seconds, out)))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally deleteTree(work)
    System.out.flush()
    sys.exit(code)
  }

  def run(w: Workload, ctx: Ctx, seconds: Double, out: java.io.File): Map[String, Any] = {
    val trace = ctx.trace
    val traced = trace.on

    // set-up, several times: the median is the figure, the last state is kept
    val setups = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    var st: w.State = null.asInstanceOf[w.State]
    (1 to SetupReps).foreach { _ =>
      st = null.asInstanceOf[w.State] // let the previous state be collected
      ctx.phases.clear()
      val t0 = System.nanoTime()
      st = w.setup(ctx)
      setups += (((System.nanoTime() - t0) / 1e9, ctx.phases.toMap))
    }
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    if (ctx.hasSession) trace.attach(ctx.spark)

    val tw = System.nanoTime()
    try w.warmup(st, ctx)
    catch { case _: Throwable => () } // counted by Ctx.op
    val warmupS = (System.nanoTime() - tw) / 1e9

    // the timed loop: whole rounds until `seconds` have passed
    ctx.measuring = true
    trace.recording = true
    val t0 = System.nanoTime()
    var r = 0
    while (r < w.minRounds || System.nanoTime() - t0 < seconds * 1e9) {
      try w.round(st, ctx, r)
      catch { case _: Throwable => () } // counted by Ctx.op
      r += 1
    }
    trace.recording = false
    ctx.measuring = false
    w.check(st, ctx)

    val lat = ctx.latMs.toSeq
    val correct = ctx.failed == 0 && lat.nonEmpty
    val metrics =
      if (!traced) ListMap(
        "setup_s" -> m(Stats.median(setups.map(_._1).toSeq), "s"),
        "ops_per_s" -> m(lat.size / (lat.sum / 1e3), "1/s"),
        "heap_mb" -> m(heapMb, "MB"))
      else {
        val (spans, counters) = trace.finish()
        Layers.writeTrace(out, w.name, ctx, spans, counters)
        Layers.metrics(ctx, trace, spans, counters, lat, setups.map(_._2).toSeq, warmupS)
      }
    ctx.stopSession()
    ListMap("correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics)
  }

  def m(v: Double, unit: String): Map[String, Any] = ListMap("value" -> v, "unit" -> unit)

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
