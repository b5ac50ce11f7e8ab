package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.model.Schemas
import graft.ops.{Ingest, Metrics}
import graft.sources.EventGen
import graft.streaming.{JdbcUpsertSink, RidePipeline, UpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The ride-stream workload: closed-loop catch-up of RidePipeline over
  * staged JSON files into JdbcUpsertSink on a fresh embedded in-memory
  * Derby database, with the final `city_metrics` table checked against the
  * batch computation over the same events. */
object StreamWorkloads {

  /** Each staged file holds `eventsPerFile` payloads spanning `spanS`
    * seconds of event time, of which `oooShare` arrive up to 5 minutes
    * behind the file's start (within the 10-minute lateness bound) and
    * `lateShare` are planted 30+ minutes behind it (beyond the bound). */
  val eventsPerFile = 100000
  val spanS = 600
  val oooShare = 0.05
  val lateShare = 0.01
  /** Files that warm the JVM and the query up and are not measured: the
    * first four batches of a run are still 10–40 % slower than the rest. */
  val warmUpFiles = 4
  /** Measured files per second of --seconds, before rounding the staged
    * total up to a whole number of files per set-up round. */
  val filesPerSecond = 0.7
  /** Measured files in the local[1] pass of the traced run. */
  val oneCoreFiles = 2

  /** Every input of a run, derived from the seed alone: event-time origin,
    * id range (so trip ids differ by seed), and the planted out-of-order
    * and late events. Every file holds out-of-order events, so the first
    * measured batch does the same kind of work as the rest. Warm-up files
    * and the first measured file hold no late events: a batch drops late
    * rows against the watermark of the batch before it. */
  final case class Inputs(seed: Long, files: Int) {
    private val s = math.floorMod(seed, 1000L)
    val startS: Long = 1704067200L + s * 86400L
    val idBase: Long = s * 100000000L
    val lateEach: Int = math.round(eventsPerFile * lateShare).toInt
    val oooEach: Int = math.round(eventsPerFile * oooShare).toInt
    def firstEvent(i: Int): Long = i.toLong * eventsPerFile
    def plantedLate: Long = math.max(0, files - warmUpFiles - 1).toLong * lateEach
    /** Events of file `i` older than this are the planted late ones. */
    def lateBeforeS(i: Int): Long = startS + i.toLong * spanS - 1200L
  }

  /** Payloads of files [from, until) with their `file` column. EventGen
    * runs at one event per second from epoch 0, so `event_timestamp`
    * carries the event id; from it each event gets its file, its place in
    * the file and its real event time, and is serialized to the same JSON
    * wire shape as `EventGen.rideEventsJson`. In each file the first
    * `lateEach` events are late (none in the first `warmUpFiles + 1`
    * files) and the next `oooEach` are out of order. Late events are six seconds apart, ten to a minute with
    * consecutive ids (so distinct cities), so no two share a (window,
    * city) key: partial aggregation cannot merge them and the dropped-row
    * count equals the planted count. */
  def frame(spark: SparkSession, in: Inputs, from: Int, until: Int): DataFrame = {
    val first = in.firstEvent(from)
    val ev = EventGen.rideEvents(spark, in.firstEvent(until) - first, startEpochS = 0.0,
      eventsPerSecond = 1.0, startId = in.idBase + first)
    val j = (col("event_timestamp") - in.idBase).cast("long")
    val file = floor(j / eventsPerFile)
    val k = j - file * eventsPerFile
    val nLate = when(file <= warmUpFiles, lit(0)).otherwise(lit(in.lateEach))
    val nOoo = lit(in.oooEach)
    val nMain = lit(eventsPerFile) - nLate - nOoo
    val t = lit(in.startS.toDouble) + file * spanS
    val lateMinutes = (in.lateEach + 9) / 10
    val time = when(k < nLate, t - (1800 + 60 * lateMinutes - 3) + k * 6.0)
      .when(k < nLate + nOoo, t - 300 + (k - nLate) * (300.0 / math.max(1, in.oooEach)))
      .otherwise(t + (k - nLate - nOoo) * spanS.toDouble / nMain)
    val placed = ev.withColumn("file", file).withColumn("event_timestamp", time)
    placed.select(to_json(struct(ev.columns.map(col).toIndexedSeq: _*)).as("value"), col("file"))
  }

  /** Stage files [from, until) as one JSON-lines file `f<i>.json` each in
    * `dir`: one parallel generator job, then each file's parts joined. */
  def stage(spark: SparkSession, in: Inputs, from: Int, until: Int, dir: String): Seq[Path] = {
    val gen = s"$dir/_gen$from"
    frame(spark, in, from, until).write.partitionBy("file").text(gen)
    (from until until).map { i =>
      val dst = Paths.get(dir, f"f$i%05d.json")
      val out = Files.newOutputStream(dst)
      try Files.list(Paths.get(gen, s"file=$i")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
        .foreach(p => Files.copy(p, out))
      finally out.close()
      dst
    }
  }

  final case class Merge(epoch: Long, logOffset: Long, start: Double, end: Double)

  /** The sink as RidePipeline sees it: JdbcUpsertSink, unchanged, behind a
    * wrapper that times each merge from outside (so the lazy batch's
    * execution is included) and records which source file the batch
    * carried (the file source's log offset in the checkpoint's offset
    * log). */
  final class TimedSink(inner: UpsertSink, ckpt: String, trace: Trace) extends UpsertSink {
    @volatile var parentSpan = 0L
    private val log = mutable.ArrayBuffer.empty[Merge]
    private val offsetRe = "\"logOffset\"\\s*:\\s*(\\d+)".r

    def merges: Seq[Merge] = synchronized(log.toList)

    override def merge(batch: DataFrame, epochId: Long): Unit = {
      val off = offsetRe.findFirstMatchIn(
        Files.readString(Paths.get(ckpt, "offsets", epochId.toString)))
        .map(_.group(1).toLong).getOrElse(-1L)
      val t0 = Clock.nowMs
      trace.span("sink.merge", parentSpan)(inner.merge(batch, epochId))
      val m = Merge(epochId, off, t0, Clock.nowMs)
      synchronized(log += m)
    }
  }

  private final case class Setup(spark: SparkSession, dir: String, files: IndexedSeq[Path],
      setupS: Seq[Double])

  /** Set up in `Main.setupRounds` rounds of equal work, each a new session
    * that stages the same number of files; set-up time is the median
    * round. The last round's session runs the workload. */
  private def setUp(st: Settings, in: Inputs): Setup = {
    val dir = s"${st.out}/stage"
    Files.createDirectories(Paths.get(dir))
    val perRound = in.files / Main.setupRounds
    var spark: SparkSession = null
    val staged = mutable.ArrayBuffer.empty[Path]
    val times = (0 until Main.setupRounds).map { round =>
      Option(spark).foreach(_.stop())
      val t0 = Clock.nowMs
      spark = Main.session(st.cpus, st.out)
      staged ++= stage(spark, in, round * perRound, (round + 1) * perRound, dir)
      (Clock.nowMs - t0) / 1000.0
    }
    Setup(spark, dir, staged.sortBy(_.getFileName.toString).toIndexedSeq, times)
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Wait until the query has run a no-data batch after the batch that
    * carried file `last` (the batch that advances the watermark past it).
    * Returns false on timeout. */
  private def awaitTrailingNoData(q: StreamingQuery, sink: TimedSink, last: Int,
      timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = sink.merges.filter(_.logOffset == last).map(_.epoch).minOption
      .exists(e => q.recentProgress.exists(p => p.batchId > e && p.numInputRows == 0))
    while (!done && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
    done
  }

  private type Rows = Map[(String, Long), (Long, Double)]

  private def derbyRows(url: String): Rows = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT \"city\", \"window_end\", \"total_trips\", \"average_fare\" FROM city_metrics")
      val out = mutable.Map.empty[(String, Long), (Long, Double)]
      while (rs.next())
        out((rs.getString(1), rs.getTimestamp(2).getTime)) = (rs.getLong(3), rs.getDouble(4))
      out.toMap
    } finally conn.close()
  }

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception

  /** The batch windowed metrics over the staged events minus the planted
    * late ones: what `city_metrics` must hold after a pass. */
  private def expected(spark: SparkSession, in: Inputs, files: Seq[Path]): Rows = {
    val onTime = files.zipWithIndex.map { case (f, i) =>
      Ingest.consume(Schemas.rideEventSchema)(spark.read.text(f.toString))
        .filter(col("event_timestamp") >= timestamp_seconds(lit(in.lateBeforeS(i))))
    }.reduce(_ union _)
    Metrics.windowedMetrics(Metrics.WindowSpec(), streaming = false)(onTime)
      .collect().map { r =>
        (r.getAs[String]("city"), r.getAs[java.sql.Timestamp]("last_updated").getTime) ->
          (r.getAs[Long]("total_trips"), r.getAs[Double]("average_fare"))
      }.toMap
  }

  /** Rows of `got` that differ from `want`: missing, extra, a different
    * count, or an average off by more than 1e-9 relative. */
  private def wrongRows(want: Rows, got: Rows): Long =
    (want.keySet ++ got.keySet).count { k =>
      (want.get(k), got.get(k)) match {
        case (Some((n1, a1)), Some((n2, a2))) =>
          n1 != n2 || math.abs(a1 - a2) > 1e-9 * math.max(math.abs(a1), math.abs(a2))
        case _ => true
      }
    }.toLong

  /** Everything one pipeline pass leaves behind for the metrics. */
  private final case class Pass(progress: Seq[StreamingQueryProgress], merges: Seq[Merge],
      derby: Rows, failure: Option[Throwable], runSpan: (Double, Double), buildMs: Double) {
    /** Batches after the warm-up files, with the no-data batches that
      * follow them. */
    def measured(warm: Int): Seq[StreamingQueryProgress] = {
      val first = merges.filter(_.logOffset >= warm).map(_.epoch).minOption
      progress.filter(p => first.exists(p.batchId >= _))
    }
    def dropped: Long =
      progress.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
  }

  /** Run the pipeline over every file in `srcDir` into a fresh Derby
    * database: the files are all staged before `start` and drain at
    * ProcessingTime(0), one file per trigger, until the no-data batch after
    * the last file. */
  private def pipelinePass(spark: SparkSession, st: Settings, tag: String, srcDir: String,
      files: Int, trace: Trace, inst: Option[Instruments]): Pass = {
    val ckpt = s"${st.out}/ckpt-$tag"
    val url = s"jdbc:derby:memory:perfbench-$tag-${System.nanoTime()};create=true"
    val jdbc = new JdbcUpsertSink(url, "city_metrics")
    jdbc.ensureTarget()
    val sink = new TimedSink(jdbc, ckpt, trace)
    var failure: Option[Throwable] = None
    var progress: Seq[StreamingQueryProgress] = Nil
    var buildMs = 0.0
    val t0 = Clock.nowMs
    trace.span("streaming.run") {
      sink.parentSpan = trace.currentId
      inst.foreach(_.enter("stream", trace.currentId))
      val b0 = Clock.nowMs
      val source = spark.readStream.option("maxFilesPerTrigger", "1").text(srcDir)
      val q = RidePipeline.start(RidePipeline.metricsPlan(source, streaming = true), sink, ckpt,
        Trigger.ProcessingTime(0))
      buildMs = Clock.nowMs - b0
      try {
        q.processAllAvailable()
        if (!awaitTrailingNoData(q, sink, files - 1, 30000L)) sys.error("stream did not catch up")
      } catch { case e: Throwable => failure = Some(e) }
      q.stop()
      failure = failure.orElse(q.exception)
      progress = q.recentProgress.toSeq
    }
    val t1 = Clock.nowMs
    inst.foreach(_.enter("post", 0L))
    val derby = try derbyRows(url) catch { case e: Throwable =>
      failure = failure.orElse(Some(e)); Map.empty: Rows }
    dropDerby(url)
    Pass(progress, sink.merges, derby, failure, (t0, t1), buildMs)
  }

  /** Per-layer metrics from the engine's progress reports and the sink's
    * merge log. */
  private def streamLayers(pass: Pass, measured: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val state = measured.flatMap(_.stateOperators.headOption)
    val nodata = measured.filter(_.numInputRows == 0)
    val ids = measured.map(_.batchId).toSet
    val measuredMerges = pass.merges.filter(m => ids.contains(m.epoch))
    val rowsMergedAll = pass.progress.flatMap(_.stateOperators.headOption).map(_.numRowsUpdated).sum
    Map(
      "streaming.query_planning_ms" -> mean(measured.map(dur(_, "queryPlanning"))),
      "streaming.add_batch_ms" -> mean(measured.map(dur(_, "addBatch"))),
      "streaming.wal_commit_ms" -> mean(measured.map(dur(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> mean(measured.map(dur(_, "commitOffsets"))),
      "streaming.latest_offset_ms" -> mean(measured.map(dur(_, "latestOffset"))),
      "streaming.nodata_batches" -> nodata.size.toDouble,
      "streaming.nodata_ms" -> mean(nodata.map(dur(_, "triggerExecution"))),
      "streaming.state.commit_ms" -> mean(state.map(_.commitTimeMs.toDouble)),
      "streaming.state.rows_total" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state.memory_bytes" -> state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.state.rows_dropped_late" -> pass.dropped.toDouble,
      "sink.merge_ms" -> mean(measuredMerges.map(m => m.end - m.start)),
      "sink.merges" -> measuredMerges.size.toDouble,
      "sink.rows_merged" -> state.map(_.numRowsUpdated).sum.toDouble,
      "sink.useful_ratio" -> (if (rowsMergedAll == 0) 0.0 else pass.derby.size.toDouble / rowsMergedAll))
  }

  /** Per-layer metrics from Spark's listeners for one scope. */
  def execLayers(c: ScopeCounters, wallMs: Double): Map[String, Double] = Map(
    "plan.analysis_ms" -> c.analysisMs,
    "plan.optimization_ms" -> c.optimizationMs,
    "plan.planning_ms" -> c.planningMs,
    "exec.driver_gap_ms" -> (wallMs - Stats.unionLength(c.jobIntervals.toSeq)),
    "exec.jobs" -> c.jobs.toDouble,
    "exec.stages" -> c.stages.toDouble,
    "exec.tasks" -> c.tasks.toDouble,
    "exec.task_ms" -> c.taskMs,
    "exec.task_cpu_ms" -> c.taskCpuMs,
    "exec.gc_ms" -> c.gcMs,
    "exec.failed_tasks" -> c.failedTasks.toDouble,
    "shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
    "shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
    "shuffle.skew_max" -> c.skewMax,
    "spill.memory_bytes" -> c.spillMemoryBytes.toDouble,
    "spill.disk_bytes" -> c.spillDiskBytes.toDouble)

  /** `ingest` and `metrics` layers alone, over the measured staged files:
    * Ingest.consume to a noop result, then windowedMetrics over the cached
    * parse. Nanoseconds per event. */
  private def parseAndAggregate(spark: SparkSession, files: Seq[Path], events: Long,
      trace: Trace): Map[String, Double] = {
    val raw = spark.read.text(files.map(_.toString): _*)
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    val parseNs = trace.span("ingest.consume")(noop(Ingest.consume(Schemas.rideEventSchema)(raw)))
    val parsed = Ingest.consume(Schemas.rideEventSchema)(raw).cache()
    parsed.write.format("noop").mode("overwrite").save()
    val aggNs = trace.span("metrics.windowed")(noop(
      Metrics.windowedMetrics(Metrics.WindowSpec(), streaming = false)(parsed)))
    parsed.unpersist(blocking = true)
    Map("ingest.parse_ns_per_event" -> parseNs / events,
      "metrics.agg_ns_per_event" -> aggNs / events)
  }

  /** The progress-timestamp span of `ps`, from the first batch's start to
    * the last batch's end, in milliseconds. */
  private def spanMs(ps: Seq[StreamingQueryProgress]): Double =
    if (ps.isEmpty) Double.NaN
    else ps.map(p => startMs(p) + dur(p, "triggerExecution")).max - ps.map(startMs).min

  /** Count a pass's batches as operations, and a failed pass as one failed
    * operation. */
  private def account(pass: Pass, measured: Seq[StreamingQueryProgress], ops: OpLog): Unit = {
    ops.attempted += measured.size
    pass.failure.foreach { e =>
      ops.attempted += 1
      ops.failed += 1
      ops.failures += "stream" -> String.valueOf(e.getMessage).take(300)
    }
  }

  /** Closed-loop catch-up: every file is staged before `start` and drains
    * at ProcessingTime(0), one file per trigger. Throughput counts the
    * batches after the warm-up files, up to and including the no-data
    * batch that follows the last file. */
  def bulk(st: Settings, trace: Trace, ops: OpLog): Outcome = {
    val perRound = math.max(2,
      math.ceil((warmUpFiles + st.seconds * filesPerSecond) / Main.setupRounds).toInt)
    val in = Inputs(st.seed, perRound * Main.setupRounds)
    val su = trace.span("sources.stage")(setUp(st, in))
    val spark = su.spark
    // The file source takes files in modification-time order.
    val mtime0 = System.currentTimeMillis() - 60000L
    su.files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(mtime0 + i * 1000L)) }

    // A traced run brackets its traced pass with two untraced ones in the
    // same session, over the same files, for the tracing overhead.
    def untracedPass(tag: String): Option[Pass] =
      if (st.trace)
        Some(pipelinePass(spark, st, tag, su.dir, in.files, new Trace(false, st.runId), None))
      else None
    val before = untracedPass("before")
    val inst = if (st.trace) Some(new Instruments(spark, trace)) else None
    inst.foreach(_.install())
    val pass = pipelinePass(spark, st, "bulk", su.dir, in.files, trace, inst)
    inst.foreach(_.uninstall())
    val untraced = before.toSeq ++ untracedPass("after")
    (untraced :+ pass).foreach(p => account(p, p.measured(warmUpFiles), ops))
    val measured = pass.measured(warmUpFiles)
    val data = measured.filter(_.numInputRows > 0)
    val workMs = spanMs(measured)
    val events = data.map(_.numInputRows).sum
    val eventsPerS = events / (workMs / 1000.0)
    val want = trace.span("check")(expected(spark, in, su.files))
    val wrong = (pass +: untraced).map { p =>
      wrongRows(want, p.derby) + (if (p.dropped != in.plantedLate) 1 else 0)
    }.sum

    var layers = streamLayers(pass, measured) + ("entry.build_ms" -> pass.buildMs)
    inst.foreach { i =>
      layers ++= execLayers(i.get("stream"), pass.runSpan._2 - pass.runSpan._1)
      layers ++= parseAndAggregate(spark, su.files.drop(warmUpFiles), events, trace)
      layers += "trace.overhead_pct" ->
        100.0 * (workMs / Stats.median(untraced.map(p => spanMs(p.measured(warmUpFiles)))) - 1.0)
      // Single-threaded baseline: the same pipeline at local[1] over the
      // first warm-up file and the first measured files.
      spark.stop()
      val one = Main.session(1, st.out)
      val oneDir = s"${st.out}/one-core"
      Files.createDirectories(Paths.get(oneDir))
      val oneFiles = su.files.take(1) ++ su.files.slice(warmUpFiles, warmUpFiles + oneCoreFiles)
      oneFiles.foreach(f =>
        Files.copy(f, Paths.get(oneDir, f.getFileName.toString), StandardCopyOption.COPY_ATTRIBUTES))
      val p1 = pipelinePass(one, st.copy(cpus = 1), "one-core", oneDir, oneFiles.size, trace, None)
      val m1 = p1.measured(1)
      val eps1 = m1.map(_.numInputRows).sum / (spanMs(m1) / 1000.0)
      layers += "streaming.events_per_s_1core" -> eps1
      layers += "streaming.parallel_speedup" -> eventsPerS / eps1
    }
    val latencies = data.map(dur(_, "triggerExecution"))
    Outcome(
      layers ++ Map(
        "setup_s" -> Stats.median(su.setupS),
        "work_s" -> workMs / 1000.0,
        "throughput_per_s" -> eventsPerS,
        "latency_p50_ms" -> Stats.quantile(latencies, 0.5),
        "latency_p90_ms" -> Stats.quantile(latencies, 0.9)),
      wrong,
      Map("files" -> in.files, "warm_up_files" -> warmUpFiles, "events_per_file" -> eventsPerFile,
        "planted_late" -> in.plantedLate, "rows_dropped_by_watermark" -> pass.dropped,
        "setup_s_repeats" -> su.setupS,
        "batches" -> pass.progress.map(p => Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_ms" -> startMs(p), "duration_ms" -> p.durationMs.asScala.map {
            case (k, v) => k -> v.longValue }))))
  }
}
