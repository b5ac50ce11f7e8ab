package graft

import graft.streaming.{InMemoryUpsertSink, RidePipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput of the reference pipeline (JSON parse → watermark
  * → 1-min window × city → update-mode upsert) through a REAL streaming
  * file source. Prints one JSON line {"metric":"stream_events_per_sec",...}.
  * The reference's producer peaks at 5 events/s (BASELINE.md); this
  * measures what the same query sustains single-node.
  *
  * Why a file source and not MemoryStream: MemoryStream embeds each
  * batch's rows in the plan, and planning then JAVA-SERIALIZES the whole
  * row array on the driver every batch — a thread dump under load shows
  * the stream execution thread pegged in ObjectOutputStream, i.e. the
  * harness, not the pipeline, was the bottleneck. The file source is read
  * distributed (as Kafka would be) and measures the pipeline itself;
  * StreamingSpec proves both sources drive the identical plan. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(2_000_000)
    val nFiles = 10 // one file ≈ one micro-batch
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_STATE_STORE=rocksdb swaps the in-memory-HashMap-with-
    // HDFS-snapshots default for the RocksDB provider — the one that holds
    // when per-instance state outgrows executor heap (dedup keys, session
    // windows at 100 TB), at a per-batch commit cost this bench quantifies.
    // RidePipeline sets the state-store width itself.
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (stateStore == "rocksdb") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Source layout: a warmup file (codegen compile happens on batch 0 of
    // the long-lived query), then nFiles event files staged AFTER warmup
    // so the measured window covers exactly the 2M generated events.
    val dir = java.nio.file.Files.createTempDirectory("graft-sbench").toString
    val srcDir = s"$dir/in"
    graft.sources.EventGen.rideEventsJson(spark, 10_000, startEpochS = 1704000000.0)
      .coalesce(1).write.mode("append").parquet(srcDir)

    val source = spark.readStream
      .schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val metrics = RidePipeline.metricsPlan(source, streaming = true)
    val sink = new InMemoryUpsertSink
    val query = RidePipeline.start(metrics, sink, s"$dir/ckpt", Trigger.ProcessingTime(0))
    query.processAllAvailable() // warmup: Janino compile + state-store init

    // Stage the measured events as TIME-CONTIGUOUS slices, one file per
    // micro-batch in arrival order (a repartition would scatter the whole
    // time range into every file, and replaying "old" events in later
    // batches drops them at the watermark — a real stream arrives in
    // rough time order). Generator + write cost excluded: files land
    // before the clock starts.
    val perFile = nEvents / nFiles
    (0 until nFiles).foreach { i =>
      graft.sources.EventGen
        .rideEventsJson(spark, perFile, startId = i.toLong * perFile)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }

    val start = System.nanoTime()
    query.processAllAvailable()
    val secs = (System.nanoTime() - start) / 1e9
    query.stop()

    if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
      query.recentProgress.foreach(p => System.err.println(
        s"[sbench] batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}"))
    val totalTrips = sink.cityMetrics.values.map(_.total_trips).sum
    println(s"""{"metric":"stream_events_per_sec","value":${(nEvents / secs).round},"unit":"events/sec","events":$nEvents,"seconds":$secs,"trips_in_sink":$totalTrips,"source":"file","state_store":"$stateStore"}""")
    spark.stop()
  }
}
