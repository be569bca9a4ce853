package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds; `parent` is 0 for a
  * root span (one benchmark operation). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Work a Spark listener reports for one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs, shuffleBytes, spillBytes = 0L
  var planMs, triggers, stateRows, stateBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    planMs += o.planMs; triggers += o.triggers
    stateRows += o.stateRows; stateBytes += o.stateBytes
  }
}

/** In-memory spans around the benchmark's calls into each layer, plus
  * what Spark's public listeners report. With `on = false` every method
  * is a plain call-through, so untraced runs pay nothing.
  *
  * Spark work is tied to the enclosing span in two ways. Jobs, stages and
  * tasks carry the span id in the SparkContext local property `Prop`,
  * which child threads (a streaming query's thread, say) inherit. Events
  * that carry no properties (query planning phases, streaming progress)
  * are tied by time to the innermost span that covers them; this is exact
  * because the workloads that run Spark have a single client thread. */
final class Trace(val on: Boolean) {
  import Trace._

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val overhead = new LongAdder
  @volatile private var spark: Option[SparkSession] = None

  /** Spans are kept only while this is set: the timed loop. */
  @volatile var recording = false

  // listener state: counters by span id, and by-time events to place later
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val timed = new ConcurrentLinkedQueue[(Long, Long, String, Counters)]()

  /** Time `body` as a span of `layer`, nested in the caller's open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || !recording) body
    else {
      val t0 = System.nanoTime()
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      stack.set(id :: outer)
      spark.foreach(_.sparkContext.setLocalProperty(Prop, id.toString))
      val start = now()
      overhead.add(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        val end = now()
        stack.set(outer)
        spark.foreach(_.sparkContext.setLocalProperty(Prop,
          outer.headOption.map(_.toString).orNull))
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, layer, start, end))
        overhead.add(System.nanoTime() - t1)
      }
    }

  /** Register the listeners on `s`. A no-op when tracing is off. */
  def attach(s: SparkSession): Unit = if (on) {
    spark = Some(s)
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  def detach(): Unit = spark.foreach { s =>
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(planListener)
    s.streams.removeListener(streamListener)
    s.sparkContext.setLocalProperty(Prop, null)
    spark = None
  }

  private def timedListener[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overhead.add(System.nanoTime() - t0)
  }

  private def countersOf(id: Long): Counters =
    counters.computeIfAbsent(id, _ => new Counters)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedListener {
      val id = spanOf(e.properties)
      jobStart.put(e.jobId, (id, e.time))
      if (id != 0) countersOf(id).synchronized(countersOf(id).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedListener {
      Option(jobStart.remove(e.jobId)).foreach { case (id, t0) =>
        if (id != 0)
          spans.add(Span(nextId.getAndIncrement(), id, "spark.job", "spark",
            t0 * 1000000L, math.max(t0, e.time) * 1000000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timedListener {
      val id = spanOf(e.properties)
      if (id != 0) {
        stageSpan.put(e.stageInfo.stageId, id)
        countersOf(id).synchronized(countersOf(id).stages += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedListener {
      val id = stageSpan.getOrDefault(e.stageId, 0L)
      val m = e.taskMetrics
      if (id != 0 && m != null) {
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedListener(planned(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timedListener(planned(qe))
  }

  /** Analysis, optimization and planning become one `spark.plan` span,
    * placed by time under the span that ran the action. */
  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) {
      val c = new Counters
      c.planMs = ph.map(_.durationMs).sum
      timed.add((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max, "spark.plan", c))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedListener {
        val p = e.progress
        val d = p.durationMs
        val trig = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        val c = new Counters
        c.triggers = 1
        c.planMs = Option(d.get("queryPlanning")).map(_.longValue).getOrElse(0L)
        c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        c.stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
        timed.add((t0, t0 + trig, "", c))
      }
  }

  /** Every span recorded so far, by-time events placed under the innermost
    * span that covers them (plan phases become `spark.plan` spans). Waits
    * for the listener bus to drain first. */
  def finish(): (Seq[Span], Map[Long, Counters]) = {
    spark.foreach { s =>
      // reach the bus through its public flush point: a no-op job whose
      // end event is delivered after every earlier event
      s.sparkContext.setLocalProperty(Prop, null)
      val done = new java.util.concurrent.CountDownLatch(1)
      val marker = new SparkListener {
        override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
      }
      s.sparkContext.addSparkListener(marker)
      s.sparkContext.parallelize(Seq(1), 1).count()
      done.await(30, java.util.concurrent.TimeUnit.SECONDS)
      s.sparkContext.removeSparkListener(marker)
    }
    val client = spans.asScala.filter(_.layer != "spark").toIndexedSeq.sortBy(_.start)
    val all = mutable.ArrayBuffer.from(spans.asScala)
    val byId = mutable.HashMap.empty[Long, Counters]
    counters.asScala.foreach { case (id, c) => byId.getOrElseUpdate(id, new Counters).add(c) }
    timed.asScala.foreach { case (t0, t1, name, c) =>
      val (a, b) = (t0 * 1000000L, t1 * 1000000L)
      val tol = 1000000L // listener times have millisecond resolution
      val host = client.filter(s => s.start - tol <= a && s.end + tol >= b)
        .sortBy(-_.start).headOption
      host.foreach { h =>
        byId.getOrElseUpdate(h.id, new Counters).add(c)
        if (name.nonEmpty)
          all += Span(nextId.getAndIncrement(), h.id, name, "spark",
            math.max(a, h.start), math.min(math.max(a, b), h.end))
      }
    }
    (all.toSeq, byId.toMap)
  }

  def overheadNs: Long = overhead.sum()
}

object Trace {
  val Prop = "perfbench.span"

  /** Each span's self time: its duration minus the part of its interval
    * that its children cover (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** The root (operation) span each span belongs to. */
  def roots(spans: Seq[Span]): Map[Long, Long] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    def up(id: Long): Long = parent.get(id) match {
      case Some(0L) | None => id
      case Some(p) => up(p)
    }
    spans.map(s => s.id -> up(s.id)).toMap
  }
}
