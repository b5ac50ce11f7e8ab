package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanosecond resolution. Spark's listener events
  * carry epoch milliseconds, so harness spans and Spark spans share one
  * time axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, runId: String)

/** In-memory span recorder. Spans are written out once, when the run
  * ends. With tracing off, `span` only runs its body. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def currentId: Long = current.get

  def span[A](name: String, parent: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val saved = current.get
      val p = if (parent >= 0) parent else saved.longValue
      current.set(id)
      val t0 = Clock.nowMs
      try f
      finally {
        current.set(saved)
        record(Span(id, name, t0, Clock.nowMs, p, runId))
      }
    }

  def add(name: String, start: Double, end: Double, parent: Long): Unit =
    if (enabled) record(Span(ids.incrementAndGet(), name, start, end, parent, runId))

  private def record(s: Span): Unit = synchronized(spans += s)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: total duration and self time, where self time is a
    * span's duration minus the part of it its child spans cover. */
  def selfTimes: Map[String, (Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.end - s.start).sum
      val self = group.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        (s.end - s.start) - Stats.unionLength(kids)
      }.sum
      name -> (total, self)
    }
  }
}

/** Counters for one measured scope (a query, or the whole stream run),
  * filled from Spark's listener events. */
final class ScopeCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0.0
  var taskCpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillMemoryBytes = 0L
  var spillDiskBytes = 0L
  var skewMax = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
}

/** Spark's own instruments for the traced run: a SparkListener for jobs,
  * stages and tasks, a QueryExecutionListener for the planning phases,
  * and a StreamingQueryListener for micro-batch spans. Events are
  * attributed to the scope set with `enter`; the caller drains the bus
  * before switching scope. */
final class Instruments(spark: SparkSession, trace: Trace) {
  @volatile private var scope = "setup"
  @volatile private var parentSpan = 0L
  private val counters = mutable.LinkedHashMap.empty[String, ScopeCounters]
  private val jobStarts = mutable.Map.empty[Int, (Double, String, Long)]
  private val stageTaskWrites = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageScope = mutable.Map.empty[Int, String]

  private def c(s: String): ScopeCounters = counters.getOrElseUpdate(s, new ScopeCounters)

  def enter(name: String, spanId: Long): Unit = {
    drain()
    scope = name
    parentSpan = spanId
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def get(name: String): ScopeCounters = synchronized(c(name))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Instruments.this.synchronized {
      val s = scope
      c(s).jobs += 1
      e.stageIds.foreach(id => stageScope(id) = s)
      jobStarts(e.jobId) = (e.time.toDouble, s, parentSpan)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Instruments.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, s, p) =>
        c(s).jobIntervals += ((t0, e.time.toDouble))
        trace.add("exec.job", t0, e.time.toDouble, p)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Instruments.this.synchronized {
        val id = e.stageInfo.stageId
        val cs = c(stageScope.getOrElse(id, scope))
        cs.stages += 1
        stageTaskWrites.remove(id).foreach { ws =>
          val med = Stats.quantile(ws.map(_.toDouble).toSeq, 0.5)
          if (ws.size >= 2 && med > 0) cs.skewMax = math.max(cs.skewMax, ws.max / med)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Instruments.this.synchronized {
      val cs = c(stageScope.getOrElse(e.stageId, scope))
      cs.tasks += 1
      if (e.reason != Success) cs.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cs.taskMs += m.executorRunTime
        cs.taskCpuMs += m.executorCpuTime / 1e6
        cs.gcMs += m.jvmGCTime
        val w = m.shuffleWriteMetrics.bytesWritten
        cs.shuffleWriteBytes += w
        cs.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        cs.spillMemoryBytes += m.memoryBytesSpilled
        cs.spillDiskBytes += m.diskBytesSpilled
        stageTaskWrites.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += w
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Instruments.this.synchronized {
        val cs = c(scope)
        val ph = qe.tracker.phases
        cs.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        cs.optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
        cs.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      trace.add(if (p.numInputRows > 0) "streaming.batch" else "streaming.nodata_batch",
        t0, t0 + d, parentSpan)
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default) of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of intervals (start, end). */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
