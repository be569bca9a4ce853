package perfbench

import scala.collection.immutable.ListMap

import graft.functions.{SimdSupport, TopKBuffer, VectorKernels}
import graft.ops.PqQueries

/** Per-layer figures of a traced run. Layers are the program's modules:
  * `store` (replicas and VectorStore), `ops` (query builders), `spark`
  * (jobs, planning and execution), `streaming` and `functions` (kernels);
  * `bench` is the client's own share. Every figure is per operation of
  * the timed loop; a layer a workload does not reach reads 0. */
object Layers {

  val SpanLayers = Seq("bench", "store", "ops", "spark", "streaming")

  def metrics(ctx: Ctx, trace: Trace, spans: Seq[Span], counters: Map[Long, Counters],
      lat: Seq[Double], setups: Seq[Map[String, Double]],
      warmupS: Double): Map[String, Any] = {
    val roots = spans.filter(_.parent == 0)
    val n = math.max(1, roots.size).toDouble
    val self = Trace.selfTimes(spans)
    val layer = spans.map(s => s.id -> s.layer).toMap
    def selfMs(l: String) = self.collect { case (id, t) if layer(id) == l => t }.sum / 1e6 / n
    val c = new Counters
    counters.values.foreach(c.add)
    val busyMs = roots.map(_.dur).sum / 1e6
    val opsBuildMs = spans.filter(_.name == "ops.build").map(_.dur).sum / 1e6
    val (tailPct, tailMs) = Stats.tail(lat)
    def phase(p: String) = Stats.median(setups.map(_.getOrElse(p, 0.0)))
    val k = Kernels.measure(ctx.seed)
    val m = Main.m _
    ListMap(
      "trace.overhead_pct" -> m(100.0 * trace.overheadNs / 1e6 / math.max(busyMs, 1e-9), "%"),
      "bench.samples" -> m(lat.size.toDouble, "count"),
      "bench.p50_ms" -> m(Stats.median(lat), "ms"),
      "bench.tail_pct" -> m(tailPct, "%"),
      "bench.tail_ms" -> m(tailMs, "ms"),
      "bench.warmup_s" -> m(warmupS, "s"),
      "setup.session_s" -> m(phase("session"), "s"),
      "setup.inputs_s" -> m(phase("inputs"), "s"),
      "setup.build_s" -> m(phase("build"), "s")) ++
    SpanLayers.map(l => s"$l.self_ms_per_op" -> m(selfMs(l), "ms")) ++
    ListMap(
      "store.rows_scanned_per_op" -> m(ctx.rowsScanned / n, "count"),
      "store.scan_frac" -> m(if (ctx.rowsHeld == 0) 0.0 else ctx.rowsScanned.toDouble / ctx.rowsHeld, "ratio"),
      "functions.scan_ns_per_row" -> m(k.scanNsPerRow, "ns"),
      "functions.quantize_ns_per_vec" -> m(k.quantizeNsPerVec, "ns"),
      "functions.pq_lut_us" -> m(k.pqLutUs, "us"),
      "ops.build_frac" -> m(if (busyMs == 0) 0.0 else opsBuildMs / busyMs, "ratio"),
      "spark.plan_ms_per_op" -> m(c.planMs / n, "ms"),
      "spark.jobs_per_op" -> m(c.jobs / n, "count"),
      "spark.stages_per_op" -> m(c.stages / n, "count"),
      "spark.tasks_per_op" -> m(c.tasks / n, "count"),
      "spark.task_cpu_ms_per_op" -> m(c.taskCpuNs / 1e6 / n, "ms"),
      "spark.gc_ms_per_op" -> m(c.gcMs / n, "ms"),
      "spark.shuffle_kb_per_op" -> m(c.shuffleBytes / 1024.0 / n, "KB"),
      "spark.spill_kb_per_op" -> m(c.spillBytes / 1024.0 / n, "KB"),
      "spark.utilization" -> m(if (busyMs == 0) 0.0 else c.taskRunMs / (busyMs * ctx.cores), "ratio"),
      "streaming.triggers_per_op" -> m(c.triggers / n, "count"),
      "streaming.state_rows_per_op" -> m(c.stateRows / n, "count"),
      "streaming.state_kb_per_op" -> m(c.stateBytes / 1024.0 / n, "KB"))
  }

  /** The spans, and per operation name its latency and Spark work, to
    * `trace/<workload>-seed<seed>.json` under `out`. */
  def writeTrace(out: java.io.File, workload: String, ctx: Ctx,
      spans: Seq[Span], counters: Map[Long, Counters]): Unit = {
    val root = Trace.roots(spans)
    val byRoot = spans.groupBy(s => root(s.id))
    val rootSpans = spans.filter(_.parent == 0)
    val ops = rootSpans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val ms = rs.map(_.dur / 1e6)
      val (tp, tv) = Stats.tail(ms)
      val c = new Counters
      rs.foreach(r => byRoot(r.id).foreach(s => counters.get(s.id).foreach(c.add)))
      name -> ListMap("n" -> rs.size, "p50_ms" -> Stats.median(ms), "tail_pct" -> tp,
        "tail_ms" -> tv, "total_s" -> ms.sum / 1e3, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "plan_ms" -> c.planMs, "triggers" -> c.triggers, "state_rows" -> c.stateRows)
    }
    val dir = new java.io.File(out, "trace")
    dir.mkdirs()
    val body = ListMap(
      "workload" -> workload, "seed" -> ctx.seed,
      "ops" -> ListMap(ops: _*),
      "details" -> ctx.details,
      "spans" -> spans.sortBy(_.start).map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)))
    java.nio.file.Files.writeString(new java.io.File(dir, s"$workload-seed${ctx.seed}.json").toPath,
      Json.render(body))
  }
}

/** Single-thread kernel timings on seeded inputs, the same in every
  * workload: the int8 scan, quantization and the PQ lookup table. */
object Kernels {
  final case class Result(scanNsPerRow: Double, quantizeNsPerVec: Double, pqLutUs: Double)

  def measure(seed: Long): Result = {
    val n = 50000
    val dim = 128
    val vecs = Gen.gaussian(seed + 100, n, dim)
    val codes = vecs.map(VectorKernels.quantize)
    val data = new Array[Short](n * dim)
    val norms = new Array[Long](n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < dim) { data(i * dim + j) = codes(i)(j).toShort; j += 1 }
      norms(i) = VectorKernels.normSqInt8(codes(i))
      i += 1
    }
    val ids = Array.tabulate(n)(_.toLong)
    val q = codes(0).map(_.toShort)
    val qn = norms(0)
    val scan = Stats.median((1 to 40).map { _ =>
      val buf = new TopKBuffer(10)
      val t0 = System.nanoTime()
      SimdSupport.scan(data, norms, ids, 0, n, dim, q, qn, buf)
      (System.nanoTime() - t0).toDouble / n
    })
    val quant = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var s = 0
      vecs.foreach(v => s += VectorKernels.quantize(v)(0))
      (System.nanoTime() - t0).toDouble / n
    })
    val rnd = new java.util.SplittableRandom(seed + 101)
    val cb = Array.fill(PqQueries.M * PqQueries.K * (dim / PqQueries.M))(rnd.nextGaussian())
    (1 to 2000).foreach(r => VectorKernels.pqLut(vecs(r), cb, PqQueries.M, PqQueries.K)) // warm
    val lut = Stats.median((1 to 2000).map { r =>
      val t0 = System.nanoTime()
      VectorKernels.pqLut(vecs(r), cb, PqQueries.M, PqQueries.K)
      (System.nanoTime() - t0) / 1e3
    })
    Result(scan, quant, lut)
  }
}
