package graft

import graft.streaming.{InMemoryUpsertSink, RidePipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-semantics tests of the reference pipeline (SURVEY.md §2.6):
  * window assignment, late-data merge within the watermark, update-mode
  * emission, and idempotent per-(city, window) upsert accumulation.
  * MemoryStream drives the exact production plan (same Catalyst tree as
  * the Kafka source). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def rideJson(city: String, epochS: Double, fare: Double, id: String): String =
    s"""{"trip_id":"$id","city":"$city","fare_amount":$fare,"event_timestamp":$epochS}"""

  // 2024-01-01 00:00:00 UTC
  private val t0 = 1704067200.0

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def runBatches(batches: Seq[Seq[String]]): InMemoryUpsertSink = {
    val source = MemoryStream[String]
    val metrics = RidePipeline.metricsPlan(source.toDF(), streaming = true)
    val sink = new InMemoryUpsertSink
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = RidePipeline.start(metrics, sink, ckpt, Trigger.ProcessingTime(0))
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    sink
  }

  test("window assignment: epoch-aligned 1-minute tumbling, end-exclusive") {
    val sink = runBatches(Seq(Seq(
      rideJson("nyc", t0 + 30, 10.0, "a"),   // window [00:00, 00:01)
      rideJson("nyc", t0 + 59, 20.0, "b"),   // same window
      rideJson("nyc", t0 + 60, 40.0, "c"),   // next window [00:01, 00:02)
    )))
    val m = sink.cityMetrics("nyc")
    assert(m.total_trips == 3)
    // latest window is [00:01,00:02): avg = 40.0, last_updated = 00:02:00
    assert(m.average_fare == 40.0)
    assert(m.last_updated.toInstant.getEpochSecond == (t0 + 120).toLong)
  }

  test("late within watermark merges into its original window; upsert is idempotent") {
    val sink = runBatches(Seq(
      // batch 1: two events 00:00 window, one at 00:30 to advance max event time
      Seq(rideJson("sf", t0 + 10, 10.0, "a"), rideJson("sf", t0 + 30 * 60, 30.0, "b")),
      // batch 2: late event at 00:25 min — beyond 10-min watermark (wm = 00:20) → dropped;
      // late event at 00:29:30 — within watermark? wm = 00:30 - 10min = 00:20, so kept.
      Seq(rideJson("sf", t0 + 25 * 60 + 5, 99.0, "dropped_nope"),
        rideJson("sf", t0 + 29 * 60 + 30, 50.0, "kept")),
    ))
    val m = sink.cityMetrics("sf")
    // windows: [00:00] count 1; [00:30] count 1; [00:25] dropped?  NO —
    // 00:25 > wm 00:20 ⇒ kept. Only events with window end ≤ wm are dropped.
    // So total = 4 here; the drop case is asserted in the next test.
    assert(m.total_trips == 4, m.toString)
  }

  test("late beyond watermark is dropped") {
    val sink = runBatches(Seq(
      Seq(rideJson("la", t0 + 10, 10.0, "a"), rideJson("la", t0 + 30 * 60, 30.0, "b")),
      // watermark after batch 1 = 00:30 - 10min = 00:20.
      // event at 00:05 → window [00:05, 00:06), end 00:06 < 00:20 → dropped.
      Seq(rideJson("la", t0 + 5 * 60, 99.0, "too_late")),
    ))
    val m = sink.cityMetrics("la")
    assert(m.total_trips == 2, m.toString)
    assert(m.average_fare == 30.0)
  }

  test("update-mode re-emission replaces a window's contribution (no double count)") {
    val sink = runBatches(Seq(
      Seq(rideJson("chi", t0 + 10, 10.0, "a")),
      // same window gets one more event in the next batch → update-mode
      // re-emits (window, chi) with count 2; the keyed upsert must replace,
      // not add (the reference's additive quirk would yield 3 — §2.6.4).
      Seq(rideJson("chi", t0 + 20, 30.0, "b")),
    ))
    val m = sink.cityMetrics("chi")
    assert(m.total_trips == 2, m.toString)
    assert(m.average_fare == 20.0)
  }

  test("append-mode close: each window emits exactly once on watermark close; equals the batch twin") {
    import graft.streaming.StreamOps
    val source = MemoryStream[(String, Double, Long, Double)]
    val df = source.toDF()
      .toDF("event_type", "epoch_s", "event_id", "value")
      .select(col("event_type"), timestamp_seconds(col("epoch_s")).as("ts"),
        col("event_id"), col("value"))
    val out = StreamOps.appendCloseWindows(df, "ts", "event_type",
      "event_id", "value", "1 hour", "10 minutes", streaming = true)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-append").toString
    val q = out.writeStream.format("memory").queryName("append_close")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    // hours 0 (two events), 2, 3.5, 4 — final watermark 4:00 − 10 min =
    // 3:50 closes [0,1) and [2,3); [3,4) and [4,5) stay open forever.
    val batches = Seq(
      Seq(("k", t0 + 10, 1L, 10.0), ("k", t0 + 1800, 2L, 30.0)),
      Seq(("k", t0 + 7200, 3L, 50.0), ("k", t0 + 3 * 3600 + 1800, 4L, 70.0)),
      Seq(("k", t0 + 4 * 3600, 5L, 90.0)))
    try batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("append_close")
      .select(col("event_type"), col("window_start").cast("long"),
        col("window_end").cast("long"), col("total_trips"),
        col("average_fare"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.length == got.distinct.length,
      s"append mode must never re-emit a window: ${got.toSeq}")
    val expect = Set(
      ("k", t0.toLong, t0.toLong + 3600, 2L, 20.0),
      ("k", t0.toLong + 7200, t0.toLong + 10800, 1L, 50.0))
    assert(got.toSet == expect, s"emitted-once set: ${got.toSeq}")
    // batch twin over the drained input: identical closed-window set
    val all = batches.flatten
      .toDF("event_type", "epoch_s", "event_id", "value")
      .select(col("event_type"), timestamp_seconds(col("epoch_s")).as("ts"),
        col("event_id"), col("value"))
    val twin = StreamOps.appendCloseWindows(all, "ts", "event_type",
        "event_id", "value", "1 hour", "10 minutes", streaming = false)
      .select(col("event_type"), col("window_start").cast("long"),
        col("window_end").cast("long"), col("total_trips"),
        col("average_fare"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(twin.toSet == expect, s"batch twin: ${twin.toSeq}")
  }

  test("streaming dedup suppresses duplicate trip ids within the watermark") {
    import graft.streaming.StreamOps
    val source = MemoryStream[String]
    val parsed = graft.ops.Ingest.consume(graft.model.Schemas.rideEventSchema)(source.toDF())
    val deduped = StreamOps.dedupStream(parsed, "event_timestamp", "trip_id",
      "10 minutes", streaming = true)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      source.addData(Seq(
        rideJson("nyc", t0 + 1, 10.0, "dup"),
        rideJson("nyc", t0 + 2, 10.0, "dup"),   // same id, same batch
        rideJson("nyc", t0 + 3, 11.0, "other")))
      q.processAllAvailable()
      source.addData(Seq(rideJson("nyc", t0 + 4, 12.0, "dup"))) // same id, later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("trip_id").as[String].collect().sorted
      assert(ids.toSeq == Seq("dup", "other"), ids.mkString(","))
    } finally q.stop()
  }

  test("streaming near-dup dedup suppresses signature-identical docs across batches") {
    import graft.streaming.StreamOps
    val source = MemoryStream[(Long, Long, String)] // (doc_id, epoch_s, text)
    val docs = source.toDF().toDF("doc_id", "epoch", "text")
      .select($"doc_id", timestamp_seconds($"epoch").as("ts"), $"text")
    val out = StreamOps.nearDupDedupStream(docs, "ts", "text", "10 minutes", streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("nd_out").start()
    try {
      val a = "the quick brown fox jumps over the lazy dog " * 3
      val b = "completely different text about spark plans and shuffles " * 3
      source.addData(Seq((1L, t0.toLong + 1, a), (2L, t0.toLong + 2, a),
        (3L, t0.toLong + 3, b)))
      q.processAllAvailable()
      source.addData(Seq((4L, t0.toLong + 10, a))) // same signature, later batch
      q.processAllAvailable()
      val ids = spark.table("nd_out").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L), ids.mkString(","))
    } finally q.stop()
  }

  test("training-prep projections compose with a stream: scrub + quality-filter a doc feed") {
    // the ingestion filter a pretraining pipeline runs ON the stream:
    // PII-scrub every doc, drop high-repetition boilerplate — both are
    // stateless projections, so they ride a streaming plan unchanged
    val source = MemoryStream[(Long, String)]
    val scrubbed = graft.ops.TextAnalysis.piiScrub(
      graft.ops.TextAnalysis.repetitionStats(
        source.toDF().toDF("doc_id", "text")))
      .filter($"top_token_frac" < 0.5)
      .select($"doc_id", $"n_emails", $"scrubbed")
    val q = scrubbed.writeStream.outputMode("append").format("memory")
      .queryName("prep_out").start()
    try {
      source.addData(Seq(
        (1L, "varied words here plus mail to a.b@x.io ok"),
        (2L, "spam spam spam spam spam spam one"),   // top token 6/7 → dropped
        (3L, "clean and varied with no pii at all")))
      q.processAllAvailable()
      val rows = spark.table("prep_out")
        .select($"doc_id", $"n_emails", $"scrubbed")
        .as[(Long, Long, String)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 3L), rows.mkString(","))
      assert(rows(0)._2 == 1L && rows(0)._3.contains("<EMAIL>"), rows(0).toString)
      assert(rows(1)._2 == 0L, rows(1).toString)
    } finally q.stop()
  }

  test("streaming decontamination flags leaked docs once against a static benchmark") {
    val benchText = Seq.tabulate(20)(i => s"bench$i").mkString(" ")
    val cleanText = Seq.tabulate(20)(i => s"clean$i").mkString(" ")
    val leakedText = Seq.tabulate(8)(i => s"bench$i").mkString(" ") + " " + cleanText
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val source = MemoryStream[(Long, Long, String)] // (doc_id, epoch_s, text)
    val docs = source.toDF().toDF("doc_id", "epoch", "text")
      .select($"doc_id", timestamp_seconds($"epoch").as("ts"), $"text")
    val out = graft.ops.Training.decontaminateStream(
      docs, "doc_id", "ts", "text", bench, "doc_id", "text", n = 8)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("decon_out").start()
    try {
      source.addData(Seq((1L, t0.toLong + 1, leakedText), (2L, t0.toLong + 2, cleanText)))
      q.processAllAvailable()
      source.addData(Seq((3L, t0.toLong + 10, leakedText)))
      q.processAllAvailable()
      val ids = spark.table("decon_out").select("doc_id").as[Long].collect().sorted
      // leaked docs flagged exactly once each; the clean doc never
      assert(ids.toSeq == Seq(1L, 3L), ids.mkString(","))
    } finally q.stop()
  }

  test("stream-static enrichment join broadcasts the dim and preserves stream rows") {
    import graft.streaming.StreamOps
    val source = MemoryStream[String]
    val parsed = graft.ops.Ingest.consume(graft.model.Schemas.rideEventSchema)(source.toDF())
    val dim = Seq(("nyc", "east"), ("sf", "west")).toDF("city", "region")
    val q = StreamOps.enrich(parsed, dim, "city")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      source.addData(Seq(rideJson("nyc", t0 + 1, 10.0, "a"),
        rideJson("la", t0 + 2, 11.0, "b")))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").select("city", "region")
        .as[(String, Option[String])].collect().toMap
      assert(rows == Map("nyc" -> Some("east"), "la" -> None), rows.toString)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes a session on gap timeout") {
    import graft.streaming.StreamOps
    val source = MemoryStream[String]
    val parsed = graft.ops.Ingest.consume(graft.model.Schemas.rideEventSchema)(source.toDF())
    val sessions = StreamOps.sessionize(spark, parsed, gapMs = 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // session: 3 trips within 1-min gaps, then silence
      source.addData(Seq(
        rideJson("nyc", t0 + 1, 10.0, "a"),
        rideJson("nyc", t0 + 30, 20.0, "b"),
        rideJson("nyc", t0 + 59, 30.0, "c")))
      q.processAllAvailable()
      // advance event time + watermark far beyond the gap so the state
      // times out, then once more so the timed-out emission is visible
      source.addData(Seq(rideJson("nyc", t0 + 30 * 60, 1.0, "later")))
      q.processAllAvailable()
      source.addData(Seq(rideJson("nyc", t0 + 60 * 60, 1.0, "even_later")))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select("city", "n_trips", "total_fare").as[(String, Long, Double)].collect()
      assert(out.contains(("nyc", 3L, 60.0)), out.mkString(";"))
    } finally q.stop()
  }

  test("signed-state stream: retractions maintain the sink equal to batch recompute; netted key deleted; replay idempotent") {
    import graft.streaming.{InMemorySignedSink, StreamOps}
    val source = MemoryStream[(String, String, Long)] // (key, op, value)
    val stateStream = StreamOps.signedAggStream(
      source.toDF().toDF("key", "op", "v"), "key", "op", col("v"),
      streaming = true)
    val sink = new InMemorySignedSink
    val ckpt = java.nio.file.Files.createTempDirectory("graft-signed").toString
    val q = stateStream.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
        sink.merge(b, e); sink.merge(b, e) // second call = replayed epoch
      }
      .start()
    val batches = Seq(
      Seq(("a", "I", 10L), ("a", "I", 30L), ("b", "I", 5L), ("c", "I", 7L)),
      Seq(("a", "D", 10L), ("b", "I", 2L), ("c", "D", 7L)), // c nets to 0
      Seq(("a", "I", 4L), ("d", "I", 1L)))
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    // batch twin over the FULL changelog = the post-delta recompute
    val want = StreamOps.signedAggStream(
        batches.flatten.toDF("key", "op", "v"), "key", "op", col("v"),
        streaming = false)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(sink.snapshot == want, s"sink=${sink.snapshot} want=$want")
    assert(!sink.snapshot.contains("c"), "netted-out key must be deleted")
    assert(sink.snapshot("a") == ((2L, 34L)), s"a: ${sink.snapshot.get("a")}")
  }

  test("scd2 stream: closed+open emissions reconcile to the batch dimension history") {
    import graft.streaming.StreamOps
    val source = MemoryStream[(String, Long, Long, String)] // key, tsUs, eid, attrs
    val stream = StreamOps.scd2Stream(
      source.toDF().toDF("key", "ts_us", "eid", "attrs"),
      "key", "ts_us", "eid", "attrs", streaming = true)
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("scd2_out").start()
    // three batches: a gains three versions across epochs (the middle one
    // arriving in the same batch as another key's first), b stays at one
    val batches = Seq(
      Seq(("a", 100L, 1L, "gold:10"), ("b", 120L, 2L, "iron:5")),
      Seq(("a", 200L, 3L, "gold:12")),
      Seq(("a", 300L, 4L, "dust:1")))
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    // reconcile update-mode emissions by (key, from, eid): a version once
    // closed never reopens, so the closed row supersedes its open twin
    val got = spark.table("scd2_out")
      .as[(String, Long, Long, String, Option[Long], Boolean)].collect()
      .groupBy(r => (r._1, r._2, r._3))
      .map { case (_, vs) => vs.find(!_._6).getOrElse(vs.head) }.toSet
    val want = StreamOps.scd2Stream(
        batches.flatten.toDF("key", "ts_us", "eid", "attrs"),
        "key", "ts_us", "eid", "attrs", streaming = false)
      .as[(String, Long, Long, String, Option[Long], Boolean)].collect().toSet
    assert(got == want, s"got=$got want=$want")
    assert(got.count(_._6) == 2, "exactly one open row per key")
    assert(got.exists(r => r._1 == "a" && r._2 == 200L &&
      r._5.contains(300L) && !r._6), "middle version closed by successor")
  }

  test("S1 source swap: a real file stream drives the identical plan to MemoryStream") {
    // reference parity: streaming_job.py:99-104 — the source is a format
    // string; everything below it is the same Catalyst plan. Prove it with
    // an actual second source, not just the claim.
    val events = Seq(
      rideJson("nyc", t0 + 10, 10.0, "a"), rideJson("nyc", t0 + 50, 30.0, "b"),
      rideJson("sf", t0 + 70, 20.0, "c"), rideJson("nyc", t0 + 130, 40.0, "d"))
    val memSink = runBatches(Seq(events))

    val dir = java.nio.file.Files.createTempDirectory("graft-filesrc").toString
    events.toDF("value").write.parquet(s"$dir/in")
    val fileSource = spark.readStream.schema("value STRING").parquet(s"$dir/in")
    val fileSink = new InMemoryUpsertSink
    val q = RidePipeline.start(RidePipeline.metricsPlan(fileSource, streaming = true),
      fileSink, s"$dir/ckpt", Trigger.ProcessingTime(0))
    try q.processAllAvailable() finally q.stop()

    assert(fileSink.cityMetrics == memSink.cityMetrics,
      s"${fileSink.cityMetrics} vs ${memSink.cityMetrics}")
  }

  test("Trigger.AvailableNow: backlog drains in bounded batches, results equal ProcessingTime") {
    // the backfill mode every production pipeline of this shape runs:
    // catch up on a file backlog in rate-limited batches, then STOP on
    // its own — same plan, row-identical output to the live trigger
    val events = Seq(
      rideJson("nyc", t0 + 10, 10.0, "a"), rideJson("nyc", t0 + 50, 30.0, "b"),
      rideJson("sf", t0 + 70, 20.0, "c"), rideJson("nyc", t0 + 130, 40.0, "d"),
      rideJson("sf", t0 + 190, 25.0, "e"))
    val live = runBatches(Seq(events))

    val dir = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    // several input files + maxFilesPerTrigger=1 ⇒ the backlog MUST drain
    // across multiple bounded micro-batches, not one catch-all batch
    events.zipWithIndex.foreach { case (e, i) =>
      Seq(e).toDF("value").write.parquet(s"$dir/in/part$i")
    }
    val src = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in/part*")
    val sink = new InMemoryUpsertSink
    val q = RidePipeline.start(RidePipeline.metricsPlan(src, streaming = true),
      sink, s"$dir/ckpt", Trigger.AvailableNow())
    // AvailableNow terminates itself once the backlog is consumed — no
    // stop() needed; a hang here (wrong trigger semantics) fails the test
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches > 1, s"expected a multi-batch drain, got $batches")
    assert(sink.cityMetrics == live.cityMetrics,
      s"${sink.cityMetrics} vs ${live.cityMetrics}")
  }

  test("checkpoint restart: windows are neither lost nor reprocessed") {
    import graft.streaming.UpsertSink
    import org.apache.spark.sql.DataFrame
    // a recording sink: every (city, window_end) emission across query
    // incarnations — a reprocessed batch would repeat batch-1 windows
    class RecordingSink extends UpsertSink {
      val emitted = scala.collection.mutable.Buffer.empty[(String, Long)]
      override def merge(batch: DataFrame, epochId: Long): Unit = {
        val rows = batch.collect()
        synchronized {
          rows.foreach(r => emitted += ((r.getAs[String]("city"),
            r.getAs[java.sql.Timestamp]("last_updated").getTime)))
        }
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val sink = new RecordingSink
    def run(): Unit = {
      val src = spark.readStream.schema("value STRING").parquet(s"$dir/in")
      val q = RidePipeline.start(RidePipeline.metricsPlan(src, streaming = true),
        sink, s"$dir/ckpt", Trigger.ProcessingTime(0))
      try q.processAllAvailable() finally q.stop()
    }
    // incarnation 1: two windows
    Seq(rideJson("nyc", t0 + 10, 10.0, "a"), rideJson("nyc", t0 + 70, 20.0, "b"))
      .toDF("value").write.mode("append").parquet(s"$dir/in")
    run()
    // incarnation 2 (fresh query object, same checkpoint): one new window
    Seq(rideJson("nyc", t0 + 130, 30.0, "c"))
      .toDF("value").write.mode("append").parquet(s"$dir/in")
    run()
    val counts = sink.emitted.groupBy(identity).view.mapValues(_.size).toMap
    val expected = Set(t0 + 60, t0 + 120, t0 + 180).map(s => ("nyc", (s * 1000).toLong))
    assert(counts.keySet == expected, s"windows: $counts")
    assert(counts.values.forall(_ == 1),
      s"a window was re-emitted (batch reprocessed after restart): $counts")
  }

  test("JDBC upsert sink: distributed stage + ANSI MERGE round-trips through Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val sink = new graft.streaming.JdbcUpsertSink(url, "city_metrics")
    val source = MemoryStream[String]
    val metrics = RidePipeline.metricsPlan(source.toDF(), streaming = true)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    val q = RidePipeline.start(metrics, sink, ckpt, Trigger.ProcessingTime(0))
    try {
      source.addData(Seq(rideJson("nyc", t0 + 10, 10.0, "a"),
        rideJson("sf", t0 + 20, 30.0, "b")))
      q.processAllAvailable()
      // second batch: updates nyc's window (count 1 -> 2) and adds a key —
      // MERGE must update in place, not duplicate
      source.addData(Seq(rideJson("nyc", t0 + 30, 30.0, "c"),
        rideJson("la", t0 + 40, 7.0, "d")))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "city_metrics").load()
      .select("city", "total_trips", "average_fare")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(back == Map("nyc" -> ((2L, 20.0)), "sf" -> ((1L, 30.0)), "la" -> ((1L, 7.0))),
      back.toString)
  }

  test("two JDBC sinks merging concurrently into one database leave the union of their rows") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val url = "jdbc:derby:memory:graftdb_two_sinks;create=true"
    // each sink owns one city; every merge updates the previous window and
    // adds the next, so MATCHED and NOT MATCHED both run on both sinks
    def batch(city: String, i: Int) = Seq(i, i + 1).map { w =>
      (city, new java.sql.Timestamp(((t0 + 60 * w) * 1000).toLong), (i + w).toLong, 10.0 * i + w)
    }.toDF("city", "last_updated", "total_trips", "average_fare")
    val cities = Seq("nyc", "sf")
    val merges = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cities.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = cities.map { city =>
        val sink = new graft.streaming.JdbcUpsertSink(url, "city_metrics")
        Future((0 until merges).foreach(i => sink.merge(batch(city, i), i.toLong)))
      }
      Await.result(Future.sequence(runs), 5.minutes)
    } finally pool.shutdown()
    val back = spark.read.format("jdbc").option("url", url).option("dbtable", "city_metrics")
      .load().as[(String, java.sql.Timestamp, Long, Double)].collect().toSet
    // window w holds the values of the last merge that wrote it
    val want = cities.flatMap { city =>
      (0 to merges).map { w =>
        val i = math.min(w, merges - 1)
        (city, new java.sql.Timestamp(((t0 + 60 * w) * 1000).toLong), (i + w).toLong, 10.0 * i + w)
      }
    }.toSet
    assert(back == want, s"${back.diff(want)} vs ${want.diff(back)}")
    val conn = java.sql.DriverManager.getConnection(url)
    val stages = try {
      val rs = conn.getMetaData.getTables(null, null, "CITY_METRICS_STAGE%", null)
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
    } finally conn.close()
    assert(stages.isEmpty, s"stage tables left behind: $stages")
  }

  test("a restart replays the failed epoch; city_metrics equals an uninterrupted run") {
    import graft.streaming.{JdbcUpsertSink, UpsertSink}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    // Merges through the real sink, records each epoch, and throws once
    // after merging `failAt`: Spark has not committed that epoch yet.
    class FailAfterMerge(inner: UpsertSink, failAt: Long) extends UpsertSink {
      val epochs = scala.collection.mutable.Buffer.empty[Long]
      override def merge(batch: DataFrame, epochId: Long): Unit = {
        inner.merge(batch, epochId)
        epochs += epochId
        if (epochId == failAt && epochs.count(_ == failAt) == 1)
          throw new IllegalStateException(s"injected failure after merging epoch $epochId")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    // one file per epoch: the second updates nyc's first window, adds la
    // and a second nyc window; the third adds a later sf window
    Seq(Seq(rideJson("nyc", t0 + 10, 10.0, "a"), rideJson("sf", t0 + 20, 30.0, "b")),
      Seq(rideJson("nyc", t0 + 30, 30.0, "c"), rideJson("la", t0 + 40, 7.0, "d"),
        rideJson("nyc", t0 + 70, 20.0, "e")),
      Seq(rideJson("sf", t0 + 130, 5.0, "f")))
      .foreach(_.toDF("value").coalesce(1).write.mode("append").parquet(s"$dir/in"))
    def run(sink: UpsertSink, ckpt: String): Unit = {
      val src = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = RidePipeline.start(RidePipeline.metricsPlan(src, streaming = true),
        sink, ckpt, Trigger.ProcessingTime(0))
      try q.processAllAvailable() finally q.stop()
    }
    def table(url: String) = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "city_metrics").load()
      .as[(String, java.sql.Timestamp, Long, Double)].collect().toSet

    val refUrl = "jdbc:derby:memory:graftdb_replay_ref;create=true"
    run(new JdbcUpsertSink(refUrl, "city_metrics"), s"$dir/ckpt-ref")

    val url = "jdbc:derby:memory:graftdb_replay;create=true"
    val failing = new FailAfterMerge(new JdbcUpsertSink(url, "city_metrics"), failAt = 1L)
    intercept[StreamingQueryException](run(failing, s"$dir/ckpt"))
    assert(failing.epochs == Seq(0L, 1L))
    // restart on the same checkpoint with a new sink, as a new process would
    val restarted = new FailAfterMerge(new JdbcUpsertSink(url, "city_metrics"), failAt = -1L)
    run(restarted, s"$dir/ckpt")
    assert(restarted.epochs.headOption.contains(1L),
      s"epoch 1 was not replayed: ${restarted.epochs}")

    val want = table(refUrl)
    assert(want.size == 5, want.toString)
    val got = table(url)
    assert(got == want, s"${got.diff(want)} vs ${want.diff(got)}")
    val conn = java.sql.DriverManager.getConnection(url)
    val stages = try {
      val rs = conn.getMetaData.getTables(null, null, "CITY_METRICS_STAGE%", null)
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
    } finally conn.close()
    assert(stages.isEmpty, s"stage tables left behind: $stages")
  }

  test("a fresh checkpoint runs the aggregate on one state store; an existing one keeps its width") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
    val key = "spark.sql.shuffle.partitions"
    def widths(q: StreamingQuery): Set[Long] =
      q.recentProgress.flatMap(_.stateOperators).map(_.numStateStoreInstances.toLong).toSet
    val first = Seq(rideJson("nyc", t0 + 10, 10.0, "a"), rideJson("sf", t0 + 70, 20.0, "b"))
    val second = Seq(rideJson("nyc", t0 + 20, 30.0, "c"), rideJson("la", t0 + 130, 40.0, "d"))
    val want = runBatches(Seq(first, second)).cityMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-width").toString

    // fresh checkpoint on a session eight partitions wide
    val wide = spark.newSession()
    wide.conf.set(key, "8")
    (first ++ second).toDF("value").write.parquet(s"$dir/fresh")
    val freshSink = new InMemoryUpsertSink
    val q = RidePipeline.start(
      RidePipeline.metricsPlan(wide.readStream.schema("value STRING").parquet(s"$dir/fresh"),
        streaming = true), freshSink, s"$dir/ckpt-fresh", Trigger.ProcessingTime(0))
    try {
      assert(wide.conf.get(key) == "8")
      assert(wide.streams.active.exists(_.id == q.id))
      q.processAllAvailable()
    } finally q.stop()
    assert(widths(q) == Set(1L))
    assert(freshSink.cityMetrics == want)

    // a checkpoint written at width 4 by a plain writeStream, restarted
    // through RidePipeline: the offset log's width wins, state carries over
    val sink = new InMemoryUpsertSink
    def source = spark.readStream.schema("value STRING").parquet(s"$dir/old")
    first.toDF("value").write.mode("append").parquet(s"$dir/old")
    val old = RidePipeline.metricsPlan(source, streaming = true).writeStream
      .outputMode(OutputMode.Update()).option("checkpointLocation", s"$dir/ckpt-old")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, id: Long) => sink.merge(b, id) }
      .start()
    try old.processAllAvailable() finally old.stop()
    assert(widths(old) == Set(4L))
    second.toDF("value").write.mode("append").parquet(s"$dir/old")
    val restarted = RidePipeline.start(RidePipeline.metricsPlan(source, streaming = true),
      sink, s"$dir/ckpt-old", Trigger.ProcessingTime(0))
    try restarted.processAllAvailable() finally restarted.stop()
    assert(widths(restarted) == Set(4L))
    assert(sink.cityMetrics == want, s"${sink.cityMetrics} vs $want")
  }

  test("the pipeline parses only the four fields it reads, with the full schema's results") {
    import graft.model.Schemas
    import graft.ops.{Ingest, Metrics}
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.types.StructType
    // Spark 4.1's default; the equivalence below holds because a field
    // that fails to parse nulls only itself
    assert(spark.conf.get("spark.sql.json.enablePartialResults") == "true")
    val payloads = Seq(
      rideJson("nyc", t0 + 10, 10.0, "a"),
      s"""{"trip_id":"b","city":"nyc","fare_amount":20.0,"tip_amount":"n/a","event_timestamp":${t0 + 20}}""",
      s"""{"trip_id":"c","pickup_location":"oops","city":"sf","fare_amount":30.0,"event_timestamp":${t0 + 30}}""",
      s"""{"trip_id":"d","city":"sf","fare_amount":"x","event_timestamp":${t0 + 40}}""",
      rideJson("la", t0 + 50, 5.0, "e").dropRight(1), // truncated: no closing brace
      s"""{"trip_id":"f","city":"la","fare_amount":7.0,"event_timestamp":${t0 + 60},"tip_amo""")
    val raw = payloads.toDF("value")
    val full = Ingest.consume(Schemas.rideEventSchema)(raw)
    val spec = Metrics.WindowSpec()

    // batch: the same per-window rows as the full-schema twin
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Option[Double], java.sql.Timestamp)].collect().toSet
    val got = rows(RidePipeline.metricsPlan(raw, streaming = false))
    assert(got == rows(Metrics.windowedMetrics(spec, streaming = false)(full)))
    assert(got.toSeq.map(_._2).sum >= 4, got) // rows with a malformed field still count

    // stream: one parse per row (the window's null-time filter stays above
    // the watermark node; a batch plan pushes it below the parse and parses
    // event_timestamp twice), and the sink equals the full-schema twin
    val dir = java.nio.file.Files.createTempDirectory("graft-parse").toString
    raw.write.text(s"$dir/in")
    val oneBatch = spark.newSession() // so the last execution is the data batch
    oneBatch.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val sink = new InMemoryUpsertSink
    val q = RidePipeline.start(
      RidePipeline.metricsPlan(oneBatch.readStream.text(s"$dir/in"), streaming = true),
      sink, s"$dir/ckpt", Trigger.ProcessingTime(0))
    try q.processAllAvailable() finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size == 1, plan)
    assert(parses.head.dataType.asInstanceOf[StructType].fieldNames.toSet ==
      Set("trip_id", "fare_amount", "city", "event_timestamp"))
    val twin = Metrics.accumulatedMetrics(spec)(full)
      .as[(String, Long, Double, java.sql.Timestamp)].collect()
      .map { case (c, n, avg, ts) => c -> graft.model.CityMetric(c, n, avg, ts) }.toMap
    assert(sink.cityMetrics == twin, s"${sink.cityMetrics} vs $twin")
  }

  test("PG upsert string is generated from the Derby-proven clause lists") {
    import graft.streaming.MergeSql
    // Both dialect strings derive from the same keyCols/valCols/sourceCols,
    // so the Derby round-trip above transitively covers the PG string's
    // column contract; this pins the PG-specific syntax around it.
    val pg = MergeSql.upsertStatement("city_metrics")
    assert(pg.contains(
      s"INSERT INTO city_metrics (${MergeSql.targetCols.mkString(", ")})"))
    assert(pg.contains(
      s"SELECT ${MergeSql.sourceCols.mkString(", ")} FROM city_metrics_micro_batch"))
    assert(pg.contains(s"ON CONFLICT (${MergeSql.keyCols.mkString(", ")}) DO UPDATE SET"))
    MergeSql.valCols.foreach(c => assert(pg.contains(s"$c = EXCLUDED.$c"), c))
    // every key/val column has a Derby-exercised twin in the ANSI merge
    val ansi = MergeSql.ansiMergeStatement("t", "s")
    MergeSql.targetCols.foreach(c => assert(ansi.contains("\"" + c + "\""), c))
    // structural sanity: balanced parens, no interpolation residue
    assert(pg.count(_ == '(') == pg.count(_ == ')'))
    assert(!pg.contains("null") && !pg.contains("$"))
  }

  test("stream-stream interval join pairs in-range rows and drops out-of-range") {
    import graft.streaming.StreamOps
    def parsed(src: MemoryStream[String]) =
      graft.ops.Ingest.consume(graft.model.Schemas.rideEventSchema)(src.toDF())
    val lSrc = MemoryStream[String]
    val rSrc = MemoryStream[String]
    val left = parsed(lSrc).select($"trip_id".as("l_id"), $"city",
      $"event_timestamp".as("l_ts"))
    val right = parsed(rSrc).select($"trip_id".as("r_id"), $"city",
      $"event_timestamp".as("r_ts"))
    val joined = StreamOps.intervalJoin(left, right, "city", "l_ts", "r_ts",
      maxDelaySec = 60, lateness = "10 minutes", streaming = true)
      .select($"l_id", $"r_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    try {
      rSrc.addData(Seq(
        rideJson("nyc", t0 + 10, 1.0, "r_in"),       // 50 s before the left row
        rideJson("nyc", t0 - 120, 1.0, "r_too_old"), // 3 min before -> out of range
        rideJson("sf", t0 + 30, 1.0, "r_wrong_key")))
      lSrc.addData(Seq(rideJson("nyc", t0 + 60, 1.0, "l1")))
      q.processAllAvailable()
      val pairs = spark.table("ij_out").as[(String, String)].collect().toSet
      assert(pairs == Set(("l1", "r_in")), pairs.toString)
    } finally q.stop()
  }

  test("outer interval join emits the null row only after the watermark clears it") {
    import graft.streaming.StreamOps
    def parsed(src: MemoryStream[String]) =
      graft.ops.Ingest.consume(graft.model.Schemas.rideEventSchema)(src.toDF())
    val lSrc = MemoryStream[String]
    val rSrc = MemoryStream[String]
    val left = parsed(lSrc).select($"trip_id".as("l_id"), $"city",
      $"event_timestamp".as("l_ts"))
    val right = parsed(rSrc).select($"trip_id".as("r_id"), $"city",
      $"event_timestamp".as("r_ts"))
    val joined = StreamOps.intervalJoin(left, right, "city", "l_ts", "r_ts",
      maxDelaySec = 60, lateness = "1 minutes", streaming = true,
      joinType = "left_outer")
      .select($"l_id", $"r_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("oj_out").start()
    try {
      // l_match has an in-range partner; l_alone has none.
      rSrc.addData(Seq(rideJson("nyc", t0 + 10, 1.0, "r_in")))
      lSrc.addData(Seq(
        rideJson("nyc", t0 + 60, 1.0, "l_match"),
        rideJson("sf", t0 + 60, 1.0, "l_alone")))
      q.processAllAvailable()
      val early = spark.table("oj_out").as[(String, String)].collect().toSet
      // the matched pair may emit immediately; the null verdict MUST NOT:
      // the right watermark hasn't cleared l_alone's candidate interval.
      assert(!early.exists(_._1 == "l_alone"), early.toString)
      // advance both watermarks far past the interval + lateness
      rSrc.addData(Seq(rideJson("nyc", t0 + 3600, 1.0, "r_late")))
      lSrc.addData(Seq(rideJson("nyc", t0 + 3600, 1.0, "l_flush")))
      q.processAllAvailable()
      val all = spark.table("oj_out").as[(String, String)].collect().toSet
      assert(all.contains(("l_match", "r_in")), all.toString)
      assert(all.contains(("l_alone", null)), all.toString)
    } finally q.stop()
  }

  test("event generator is deterministic and partitioning-independent") {
    import graft.sources.EventGen
    val a = EventGen.rideEvents(spark, 1000).collect().map(_.toSeq)
    val b = EventGen.rideEvents(spark, 1000).repartition(7).collect().map(_.toSeq)
    assert(a.toSet == b.toSet) // same rows whatever the layout
    val fares = EventGen.rideEvents(spark, 1000).select("fare_amount").as[Double].collect()
    assert(fares.forall(f => f >= 5.0 && f < 150.0))
    assert(EventGen.rideEvents(spark, 1000).select("city").distinct().count() == 10)
  }

  test("generator wire payload round-trips the FULL 11-field schema") {
    import graft.sources.EventGen
    // serialize → parse with the consumer's declared schema: every field
    // (incl. the nested lat/lon string structs) must survive, no nulls
    val parsed = graft.ops.Ingest.parseJson(graft.model.Schemas.rideEventSchema)(
      EventGen.rideEventsJson(spark, 500))
    assert(parsed.columns.toSeq == graft.model.Schemas.rideEventSchema.fieldNames.toSeq)
    val nullCounts = parsed.select(
      parsed.columns.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Long])
    assert(nullCounts.forall(_ == 0L), s"null fields: ${parsed.columns.zip(nullCounts)}")
    val checks = parsed.select(
      min(col("pickup_datetime") <= col("dropoff_datetime")).as("dur_ok"),
      min(col("pickup_location.latitude").cast("double").between(-90, 90)).as("lat_ok"),
      min(col("dropoff_location.longitude").cast("double").between(-180, 180)).as("lon_ok"),
      min(col("trip_id").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")).as("uuid_ok"),
      min(col("tip_amount").between(0, 50)).as("tip_ok"),
      countDistinct(col("trip_id")).as("n_ids"))
      .collect().head
    assert(checks.getBoolean(0) && checks.getBoolean(1) && checks.getBoolean(2)
      && checks.getBoolean(3) && checks.getBoolean(4), checks.toString)
    assert(checks.getLong(5) == 500L) // uuid-shaped ids don't collide
    // the 4 downstream fields the metrics plan consumes are all present
    val m = graft.streaming.RidePipeline.metricsPlan(
      EventGen.rideEventsJson(spark, 2000), streaming = false)
    assert(m.count() > 0)
  }

  test("malformed JSON becomes null fields, excluded by count(trip_id) key null group") {
    val source = MemoryStream[String]
    val metrics = RidePipeline.metricsPlan(source.toDF(), streaming = true)
    val sink = new InMemoryUpsertSink
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = RidePipeline.start(metrics, sink, ckpt, Trigger.ProcessingTime(0))
    try {
      source.addData(Seq(rideJson("nyc", t0 + 1, 10.0, "a"), "{not json at all"))
      q.processAllAvailable()
    } finally q.stop()
    // malformed row has null city AND null event_timestamp → no window → excluded
    assert(sink.cityMetrics.keySet == Set("nyc"))
    assert(sink.cityMetrics("nyc").total_trips == 1)
  }

  test("funnel state machine matches the batch window twin across batches") {
    import graft.streaming.StreamOps
    // (user, event_id, epoch_s, type): user 10 converts twice off one view
    // (views aren't consumed), crossing a batch boundary; user 20's
    // purchase is outside the 1 h horizon; user 30 has no view at all
    val rows1 = Seq((10L, 1L, 100L, "view"), (10L, 2L, 200L, "purchase"),
      (20L, 3L, 100L, "view"), (30L, 4L, 150L, "purchase"))
    val rows2 = Seq((10L, 5L, 300L, "purchase"), (20L, 6L, 4000L, "purchase"))
    def toDfCols(df: org.apache.spark.sql.DataFrame) = df
      .toDF("user_id", "event_id", "epoch", "event_type")
      .select($"user_id", $"event_id", timestamp_seconds($"epoch").as("ts"),
        $"event_type")
    val source = MemoryStream[(Long, Long, Long, String)]
    val out = StreamOps.conversionFunnel(toDfCols(source.toDF()),
      "ts", "user_id", "event_id", "event_type",
      maxDelaySec = 3600L, lateness = "10 minutes", streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    try {
      source.addData(rows1); q.processAllAvailable()
      source.addData(rows2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("funnel_out")
      .select($"user_id", $"purchase_id", $"latency_s")
      .as[(Long, Long, Double)].collect().toSet
    val batch = StreamOps.conversionFunnel(
      toDfCols((rows1 ++ rows2).toDF()),
      "ts", "user_id", "event_id", "event_type",
      maxDelaySec = 3600L, lateness = "10 minutes", streaming = false)
      .select($"user_id", $"purchase_id", $"latency_s")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the state machine attributed both purchases to the single view,
    // kept the stale-view user out, and ignored the view-less user
    assert(streamed == Set((10L, 2L, 100.0), (10L, 5L, 200.0)))
  }

  test("per-window top-k: MG sketch matches exact batch twin when counters cover keys") {
    import graft.streaming.StreamOps
    // minute-0 window: a×5, b×3, c×1, d×1 (4 distinct ≤ m=8 → exact MG)
    val w0 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d")
    val rows1 = w0.zipWithIndex.map { case (key, i) => (10L + i, key) }
    def toDf(df: org.apache.spark.sql.DataFrame) = df.toDF("epoch", "key")
      .select(timestamp_seconds($"epoch").as("ts"), $"key")
    val source = MemoryStream[(Long, String)]
    val out = StreamOps.topKPerWindow(toDf(source.toDF()), "ts", "key",
      duration = "1 minute", k = 3, m = 8, lateness = "10 minutes",
      streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("topk_out").start()
    try {
      source.addData(rows1); q.processAllAvailable()
      // push the watermark past window-end (60 s) + 10-min lateness, then
      // once more so the timed-out emission becomes visible
      source.addData(Seq((800L, "later"))); q.processAllAvailable()
      source.addData(Seq((900L, "later"))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("topk_out")
      .select($"window_start", $"key", $"cnt", $"rnk")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    val batch = StreamOps.topKPerWindow(
      toDf(rows1.toDF()), "ts", "key", duration = "1 minute", k = 3,
      m = 8, lateness = "10 minutes", streaming = false)
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.map(r => (r._2, r._3, r._4)) ==
      Set(("a", 5L, 1L), ("b", 3L, 2L), ("c", 1L, 3L)))
  }

  test("OHLC bars: the same operator runs on a stream; final bars equal batch") {
    import graft.ops.TimeSeries
    // two 5-min buckets; open/close depend on (ts, id) order within each
    val rows = Seq(
      (0L, 1L, 10.0), (30L, 2L, 50.0), (60L, 3L, 5.0), (290L, 4L, 20.0),
      (300L, 5L, 7.0), (310L, 6L, 70.0), (500L, 7L, 1.0))
    def toDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("epoch", "event_id", "value")
      .select(timestamp_seconds($"epoch").as("ts"), $"event_id", $"value")
    val source = MemoryStream[(Long, Long, Double)]
    val out = TimeSeries.ohlcBars(toDf(source.toDF()), "ts", "event_id",
      "value", widthSec = 300L)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("ohlc_out").start()
    try {
      val (b1, b2) = rows.partition(_._1 < 295L)
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits a bucket on change: keep the final emission
    // (max n_events per bucket)
    val streamed = spark.table("ohlc_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"bucket")
          .orderBy($"n_events".desc)))
      .filter($"rn" === 1).drop("rn")
      .select($"bucket", $"open", $"high", $"low", $"close", $"n_events")
      .as[(Long, Double, Double, Double, Double, Long)].collect().toSet
    val batch = TimeSeries.ohlcBars(toDf(rows.toDF()), "ts", "event_id",
      "value", widthSec = 300L)
      .select($"bucket", $"open", $"high", $"low", $"close", $"n_events")
      .as[(Long, Double, Double, Double, Double, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val b0 = batch.find(_._6 == 4L).get
    assert((b0._2, b0._5) == ((10.0, 20.0)), s"open/close by (ts,id): $b0")
  }

  test("windowed HLL distinct: streaming sketch equals exact batch twin") {
    import graft.streaming.StreamOps
    // window 0: users {1,2,3} over 5 events; window 1: users {1,4}
    val rows = Seq((0L, 1L), (10L, 2L), (20L, 1L), (30L, 3L), (40L, 2L),
      (70L, 1L), (80L, 4L))
    def toDf(df: org.apache.spark.sql.DataFrame) = df.toDF("epoch", "uid")
      .select(timestamp_seconds($"epoch").as("ts"), $"uid")
    val source = MemoryStream[(Long, Long)]
    val out = StreamOps.distinctPerWindow(toDf(source.toDF()), "ts", "uid",
      duration = "1 minute", lateness = "10 minutes", streaming = true)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("hll_out").start()
    try {
      val (b1, b2) = rows.partition(_._1 < 35L)
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits on change: keep the final emission per window
    val streamed = spark.table("hll_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"window_start")
          .orderBy($"n_events".desc)))
      .filter($"rn" === 1).drop("rn")
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    val batch = StreamOps.distinctPerWindow(toDf(rows.toDF()), "ts", "uid",
      duration = "1 minute", lateness = "10 minutes", streaming = false)
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // sparse-mode HLL is exact: windows hold 3 and 2 distinct users
    assert(batch.map(r => (r._2, r._3)) == Set((3L, 5L), (2L, 2L)),
      s"got $batch")
  }

  test("streaming CDC apply: latest emissions minus tombstones equal batch cdcApply") {
    import graft.streaming.StreamOps
    // key 1: I then U (survives with U's value); key 2: I then D (dropped);
    // key 3: two same-ts ops — higher event_id wins; key 4: only in batch 2
    val log = Seq(
      (100L, 1L, "I", 10L, 1.0), (110L, 1L, "U", 11L, 2.0),
      (100L, 2L, "I", 12L, 3.0), (120L, 2L, "D", 13L, 0.0),
      (100L, 3L, "I", 14L, 5.0), (100L, 3L, "U", 15L, 6.0),
      (130L, 4L, "I", 16L, 7.0))
    def toDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("epoch", "user_id", "op", "event_id", "value")
      .select(timestamp_seconds($"epoch").as("ts"), $"user_id", $"op",
        $"event_id", $"value")
    val source = MemoryStream[(Long, Long, String, Long, Double)]
    val out = StreamOps.cdcApplyStream(toDf(source.toDF()), "user_id", "op",
      "ts", "event_id", "value")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("cdc_out").start()
    try {
      val (b1, b2) = log.partition(_._1 < 115L)
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // latest emission per key = the one with the highest n_ops
    val latest = spark.table("cdc_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"n_ops".desc)))
      .filter($"rn" === 1 && $"last_op" =!= "D")
      .select($"user_id", $"last_op", $"value", $"n_ops")
      .as[(Long, String, Double, Long)].collect().toSet
    val batch = graft.ops.Profile.cdcApply(toDf(log.toDF()), "user_id", "op",
      Seq("ts", "event_id"), Seq("value"))
      .select($"user_id", $"last_op", $"value", $"n_ops")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(latest == batch, s"stream $latest vs batch $batch")
    assert(latest.map(_._1) == Set(1L, 3L, 4L), latest.toString)
    assert(latest.find(_._1 == 3L).get._3 == 6.0, "same-ts tie must pick higher event_id")
  }

  test("running anomaly flags: streaming equals the batch twin bit-for-bit") {
    import graft.streaming.StreamOps
    // one calm key (values 10±1) with two planted spikes after warm-up,
    // one noisy key that never crosses the threshold
    val calm = (0 until 20).map(i => (100L + i, i.toLong, "calm",
      10.0 + (i % 3) * 0.5)) ++
      Seq((130L, 30L, "calm", 60.0), (140L, 31L, "calm", -40.0),
        (150L, 32L, "calm", 10.5))
    val noisy = (0 until 20).map(i => (100L + i, 100L + i, "noisy",
      (i % 7) * 25.0))
    val all = (calm ++ noisy).sortBy(_._1)
    def toDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("epoch", "event_id", "event_type", "value")
      .select(timestamp_seconds($"epoch").as("ts"), $"event_id",
        $"event_type", $"value")
    val source = MemoryStream[(Long, Long, String, Double)]
    val out = StreamOps.anomalyFlags(toDf(source.toDF()), "ts", "event_type",
      "event_id", "value", threshold = 3.0, minN = 10L, streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("anom_out").start()
    try {
      // two time-ordered batches: state must carry the profile across
      val (b1, b2) = all.partition(_._1 < 125L)
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_out")
      .select($"event_type", $"event_id", $"value", $"n_before", $"z")
      .as[(String, Long, Double, Long, Double)].collect().toSet
    val batch = StreamOps.anomalyFlags(toDf(all.toDF()), "ts", "event_type",
      "event_id", "value", threshold = 3.0, minN = 10L, streaming = false)
      .as[(String, Long, Double, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.map(_._2) == Set(30L, 31L), streamed.toString)
  }

  test("per-window top-k: a guaranteed heavy hitter survives MG shedding at m=2") {
    import graft.streaming.StreamOps
    // hot×50 interleaved with 20 distinct rares: freq 50 > N/m = 70/2
    val keys = (0 until 20).flatMap(i =>
      Seq.fill(2)("hot") ++ Seq(s"rare$i")) ++ Seq.fill(10)("hot")
    val rows1 = keys.zipWithIndex.map { case (key, i) => (1L + i % 50, key) }
    def toDf(df: org.apache.spark.sql.DataFrame) = df.toDF("epoch", "key")
      .select(timestamp_seconds($"epoch").as("ts"), $"key")
    val source = MemoryStream[(Long, String)]
    val out = StreamOps.topKPerWindow(toDf(source.toDF()), "ts", "key",
      duration = "1 minute", k = 1, m = 2, lateness = "10 minutes",
      streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("topk_mg_out").start()
    try {
      source.addData(rows1); q.processAllAvailable()
      source.addData(Seq((800L, "later"))); q.processAllAvailable()
      source.addData(Seq((900L, "later"))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("topk_mg_out")
      .select($"key", $"rnk").as[(String, Long)].collect().toSet
    assert(got == Set(("hot", 1L)), got.toString)
  }

  test("RocksDB session-window soak: state evicts and results match the HDFS provider") {
    // Drives the session window through enough keys × batches that the
    // watermark must EVICT state as it goes (each batch opens a fresh
    // session per key and closes the previous batch's), then asserts the
    // RocksDB provider and the default HDFS-backed provider emit the
    // identical session set — the provider swap changes durability
    // mechanics, never results — and that end-of-run state holds only
    // the live tail, not the full emitted history.
    import graft.streaming.StreamOps
    val nKeys = 500L
    val nBatches = 6
    val t0s = t0.toLong
    def run(rocks: Boolean, qname: String)
        : (Set[(Long, Long, Double, java.sql.Timestamp)], Long) = {
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(confKey)
      if (rocks) spark.conf.set(confKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else spark.conf.unset(confKey)
      try {
        val src = MemoryStream[(Long, Long, Double)]
        val df = src.toDF().toDF("es", "key", "value")
          .select(col("es").cast("timestamp").as("ts"), col("key"), col("value"))
        val sess = StreamOps.sessionMetrics(df, "ts", "key", "value",
          gap = "10 seconds", lateness = "5 seconds", streaming = true)
        val ckpt = java.nio.file.Files.createTempDirectory("graft-soak").toString
        val q = sess.writeStream.format("memory").queryName(qname)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        try {
          for (b <- 0 until nBatches) {
            val base = t0s + b * 30L // 30 s stride > 10 s gap: new session
            src.addData((0L until nKeys).flatMap(k =>
              Seq((base, k, 1.0), (base + 5L, k, 2.0))))
            q.processAllAvailable()
          }
          src.addData(Seq((t0s + 1000000L, -1L, 0.0))) // watermark flush
          q.processAllAvailable()
          val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
          val rows = spark.table(qname)
            .select($"key", $"n_events", $"session_fare", $"session_start")
            .as[(Long, Long, Double, java.sql.Timestamp)].collect().toSet
          (rows, stateRows)
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
    val (viaHdfs, _) = run(rocks = false, "soak_hdfs")
    val (viaRocks, stateRows) = run(rocks = true, "soak_rocks")
    // every (key, batch) session closed and emitted exactly once; the
    // flush row's own session stays open and unemitted
    assert(viaHdfs.count(_._1 >= 0L) == nKeys * nBatches,
      s"expected ${nKeys * nBatches} closed sessions, got ${viaHdfs.size}")
    assert(viaHdfs.forall(r => r._1 < 0L || (r._2 == 2L && r._3 == 3.0)),
      viaHdfs.take(5).toString)
    assert(viaRocks == viaHdfs,
      s"provider drift: ${(viaRocks diff viaHdfs).take(3)} / ${(viaHdfs diff viaRocks).take(3)}")
    // 3000 sessions were emitted over the run, but the store ends holding
    // only the single still-open flush session — eviction really ran
    assert(stateRows <= nKeys + 1L, s"state not evicted: $stateRows rows")
  }

  test("streaming quantile sketch: windowed state equals the batch sketch; late rows drop") {
    import graft.streaming.StreamOps
    val source = MemoryStream[(Long, Long)] // (epoch seconds, value)
    val rows = source.toDF().toDF("epoch", "v")
      .select(timestamp_seconds($"epoch").as("ts"), $"v")
    val out = StreamOps.quantileSketchStream(rows, "ts", $"v", width = 8L,
      duration = "1 minute", lateness = "10 minutes", streaming = true)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("qsk_out").start()
    val t0s = t0.toLong
    try {
      // window A [t0, t0+60): buckets 0,1,2; window B [t0+60, t0+120): bucket 0 x2
      source.addData(Seq((t0s + 1, 3L), (t0s + 5, 9L), (t0s + 50, 17L),
        (t0s + 61, 7L), (t0s + 100, 7L)))
      q.processAllAvailable()
      // sentinel an hour on: watermark passes both windows, they finalize
      source.addData(Seq((t0s + 3600, 1L)))
      q.processAllAvailable()
      // a late row for window A, far behind the watermark: must NOT appear
      source.addData(Seq((t0s + 2, 100L)))
      q.processAllAvailable()
      source.addData(Seq((t0s + 7200, 1L)))
      q.processAllAvailable()
      val got = spark.table("qsk_out")
        .select(unix_timestamp($"window_start"), $"bucket", $"cnt")
        .as[(Long, Long, Long)].collect().toSet
      val onTime = Set(
        (t0s, 0L, 1L), (t0s, 1L, 1L), (t0s, 2L, 1L),
        (t0s + 60, 0L, 2L))
      // the first sentinel's own window finalizes once the second
      // sentinel advances the watermark past it; the late row's bucket
      // (12) must appear nowhere
      val want = onTime + ((t0s + 3600, 0L, 1L))
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      // the emitted state equals the batch-mode sketch over the on-time rows
      val batch = StreamOps.quantileSketchStream(
        Seq((t0s + 1, 3L), (t0s + 5, 9L), (t0s + 50, 17L),
          (t0s + 61, 7L), (t0s + 100, 7L)).toDF("epoch", "v")
          .select(timestamp_seconds($"epoch").as("ts"), $"v"),
        "ts", $"v", width = 8L, duration = "1 minute",
        lateness = "10 minutes", streaming = false)
        .select(unix_timestamp($"window_start"), $"bucket", $"cnt")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch == onTime, s"batch twin diverged: $batch")
    } finally q.stop()
  }
}
