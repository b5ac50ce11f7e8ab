package graft.streaming

import graft.model.Schemas
import graft.ops.{Ingest, Metrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's end-to-end streaming job re-expressed Spark-first
  * (reference: spark_jobs/streaming_job.py:63-135):
  *
  *   source (Kafka / memory / file) → from_json(declared schema) →
  *   star-expand → epoch→timestamp cast → watermark 10 min →
  *   1-min tumbling window × city → count(trip_id), avg(fare_amount) →
  *   update mode → foreachBatch upsert.
  *
  * The plan below the source is identical whatever the source format; in
  * the zero-egress test env a MemoryStream or file source stands in for
  * Kafka (same downstream Catalyst plan, per SURVEY.md §2.1 S1).
  */
object RidePipeline {

  /** The analytic plan from a raw frame with a `value` payload column to
    * per-(window, city) metrics. Works on batch and streaming frames.
    * Parses only the wire fields the aggregate reads (`spec.columns`):
    * `from_json` stays whole when its struct feeds several fields, so
    * pruning has to happen in the schema. Rows come out as with the full
    * schema — a malformed field outside the four is never parsed, and a
    * malformed one inside yields the same nulls (StreamingSpec pins this). */
  def metricsPlan(raw: DataFrame, streaming: Boolean): DataFrame = {
    val spec = Metrics.WindowSpec()
    val read = StructType(Schemas.rideEventSchema.filter(f => spec.columns.contains(f.name)))
    Metrics.windowedMetrics(spec, streaming)(Ingest.consume(read)(raw))
  }

  /** Kafka source, production shape (unexercised in the test env — no
    * broker; kept so the format is a parameter, not a rewrite). */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
      broker: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", broker)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** State-store partitions of the (window, city) aggregate on a fresh
    * checkpoint. Every batch commits every state-store instance, even one
    * with no rows, and the live keys are at most cities × open windows
    * (~10 × 11), pre-aggregated per input split before the exchange. So
    * one instance holds them all, and each further one only adds a commit. */
  private val StatePartitions = 1

  /** Wire the metrics stream into a foreachBatch upsert sink, update mode,
    * 1-minute processing-time trigger (reference: streaming_job.py:128-132),
    * plus a checkpoint dir (proper practice the reference omits —
    * SURVEY.md §2.6.6).
    *
    * A fresh checkpoint runs the aggregate at `StatePartitions`, so the
    * sink gets each batch in that many partitions; a checkpoint that exists
    * keeps the width its offset log records. The query snapshots its
    * session's conf when it is constructed, so the shuffle width is set
    * only around `start()` and the caller's value restored after; the query
    * stays in the caller's `spark.streams`. The lock keeps concurrent starts
    * from restoring each other's value. */
  def start(metrics: DataFrame, sink: UpsertSink, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    val writer = metrics.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink.merge(batch, epochId)
      }
    val conf = metrics.sparkSession.conf
    val key = SQLConf.SHUFFLE_PARTITIONS.key
    synchronized {
      val callers = conf.getAll.get(key)
      conf.set(key, StatePartitions.toLong)
      try writer.start()
      finally callers.fold(conf.unset(key))(conf.set(key, _))
    }
  }
}

/** Keyed upsert sink with exactly-once *intent* semantics (SURVEY.md
  * §2.6.4): state is per (city, window_end), so an update-mode re-emission
  * of a late-updated window *replaces* that window's contribution instead
  * of double-adding it (the reference's ON CONFLICT adds the whole count
  * again — we reproduce the documented intent, an idempotent running
  * total, not the quirk). Per-city totals are derived: total_trips = sum
  * over windows, average_fare/last_updated = latest window's. */
trait UpsertSink {
  def merge(batch: DataFrame, epochId: Long): Unit
}

/** In-memory backend (tests). Thread-safe via synchronization — foreachBatch
  * invocations are serial per query, but tests may inspect concurrently.
  * The `collect` here is a TEST-BACKEND convenience only (update-mode
  * deltas over ~10 keys); the production JDBC backend ([[JdbcUpsertSink]])
  * stages batches with a distributed `df.write.jdbc`, never collect. */
class InMemoryUpsertSink extends UpsertSink {
  import scala.collection.mutable
  // (city, windowEnd micros) -> (count, avg)
  private val state = mutable.Map.empty[(String, java.sql.Timestamp), (Long, Double)]

  override def merge(batch: DataFrame, epochId: Long): Unit = {
    val rows = batch.collect() // update-mode deltas only: small by construction
    synchronized {
      rows.foreach { r =>
        val city = r.getAs[String]("city")
        val ts = r.getAs[java.sql.Timestamp]("last_updated")
        state((city, ts)) = (r.getAs[Long]("total_trips"), r.getAs[Double]("average_fare"))
      }
    }
  }

  /** Materialized per-city metrics, the `city_metrics` table analog. */
  def cityMetrics: Map[String, graft.model.CityMetric] = synchronized {
    state.groupBy(_._1._1).map { case (city, entries) =>
      val total = entries.values.map(_._1).sum
      val ((_, lastTs), (_, lastAvg)) = entries.maxBy(_._1._2.getTime)
      city -> graft.model.CityMetric(city, total, lastAvg, lastTs)
    }
  }
}

/** Keyed SIGNED-state sink — the maintained-state S5 intent at the
  * engine's signed-aggregate surface: consumes
  * [[StreamOps.signedAggStream]]'s update-mode rows, which carry each
  * touched key's ABSOLUTE (n_rows, sum_v) state, so the merge is a keyed
  * REPLACE (idempotent under foreachBatch replay by construction — no
  * accumulate quirk) and a tombstone (n_rows ≤ 0) DELETES the key.
  * Replayed epochs are additionally skipped by epoch tracking, the
  * standard exactly-once-intent discipline. In-memory backend (tests);
  * the `collect` is update-mode deltas over touched keys only. */
class InMemorySignedSink {
  import scala.collection.mutable
  private val state = mutable.Map.empty[String, (Long, Long)]
  private var lastEpoch = -1L

  def merge(batch: org.apache.spark.sql.DataFrame, epochId: Long): Unit = {
    val rows = batch.collect() // update-mode touched-key states: small
    synchronized {
      if (epochId > lastEpoch) {
        rows.foreach { r =>
          val k = r.getAs[String]("key")
          val n = r.getAs[Long]("n_rows")
          if (n <= 0L) state.remove(k)
          else state(k) = (n, r.getAs[Long]("sum_v"))
        }
        lastEpoch = epochId
      }
    }
  }

  def snapshot: Map[String, (Long, Long)] = synchronized(state.toMap)
}

/** JDBC merge statement builders. Mirrors the reference's ON CONFLICT
  * merge (streaming_job.py:37-44) but per-(city, window) keyed for
  * idempotency: re-delivering the same micro-batch (foreachBatch replays
  * after a restart) converges to the same table state. */
object MergeSql {
  /** Single source of truth for the upsert contract: key columns, updated
    * columns, and the micro-batch source columns feeding them (in target
    * order). BOTH dialect strings below are generated from these lists, so
    * the never-executed Postgres string cannot drift from the ANSI MERGE
    * that StreamingSpec exercises against embedded Derby — a column
    * rename/add flows into both or neither. */
  val keyCols: Seq[String] = Seq("city", "window_end")
  val valCols: Seq[String] = Seq("total_trips", "average_fare")
  val sourceCols: Seq[String] = Seq("city", "last_updated", "total_trips", "average_fare")
  val targetCols: Seq[String] = keyCols ++ valCols

  /** PostgreSQL-dialect upsert — the reference's target database
    * (streaming_job.py:37-44 uses the same ON CONFLICT shape). */
  def upsertStatement(table: String): String =
    s"""INSERT INTO $table (${targetCols.mkString(", ")})
       |SELECT ${sourceCols.mkString(", ")} FROM ${table}_micro_batch
       |ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET
       |${valCols.map(c => s"  $c = EXCLUDED.$c").mkString(",\n")}""".stripMargin

  /** Standard SQL:2003 MERGE (Derby, DB2, Oracle, SQL Server...) —
    * exercised for real against embedded Derby in StreamingSpec. All
    * identifiers are quoted: Spark's JDBC writer creates the stage with
    * quoted lowercase column names, which case-folding databases would
    * otherwise fail to resolve unquoted. */
  def ansiMergeStatement(table: String, stage: String): String = {
    def q(c: String) = "\"" + c + "\""
    s"""MERGE INTO $table t USING $stage s
       |ON ${keyCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ")}
       |WHEN MATCHED THEN UPDATE SET
       |  ${valCols.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")}
       |WHEN NOT MATCHED THEN INSERT (${targetCols.map(q).mkString(", ")})
       |VALUES (${targetCols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
  }
}

/** JDBC-backed upsert sink, the production shape of the reference's
  * per-minute Postgres writes (streaming_job.py:26-58): each update-mode
  * micro-batch is staged with a DISTRIBUTED `df.write.jdbc` (executors
  * write in parallel; nothing is collected to the driver), then one ANSI
  * MERGE folds the stage into the target keyed on (city, window_end).
  * Idempotent per key — a replayed batch merges to the same state. */
class JdbcUpsertSink(url: String, table: String) extends UpsertSink {
  import org.apache.spark.sql.SaveMode
  import org.apache.spark.sql.functions.col

  private def withConn[A](f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Stage table of this sink instance: two sinks on one database must not
    * overwrite each other's stage between its write and its MERGE. */
  private val stage =
    s"${table}_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Create the target; tolerate "already exists" so restarts and multiple
    * sinks against one database are safe. */
  private lazy val target: Unit = withConn { conn =>
    try conn.createStatement().executeUpdate(
      s"""CREATE TABLE $table ("city" VARCHAR(64) NOT NULL,
         |  "window_end" TIMESTAMP NOT NULL, "total_trips" BIGINT,
         |  "average_fare" DOUBLE, PRIMARY KEY ("city", "window_end"))""".stripMargin)
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
  }

  /** Creates the target on the first call only. */
  def ensureTarget(): Unit = target

  /** Stage the batch, MERGE it into the target, and drop the stage in the
    * same connection, so no per-instance stage outlives its merge. */
  override def merge(batch: DataFrame, epochId: Long): Unit = {
    ensureTarget()
    batch.select(MergeSql.sourceCols.zip(MergeSql.targetCols)
        .map { case (s, t) => col(s).as(t) }: _*)
      .write.mode(SaveMode.Overwrite).format("jdbc")
      // default StringType mapping is CLOB on some dialects (Derby), which
      // can't be compared in the MERGE's ON clause — pin a VARCHAR key
      .option("createTableColumnTypes", "city VARCHAR(64)")
      .option("url", url).option("dbtable", stage).save()
    withConn { conn =>
      val st = conn.createStatement()
      st.executeUpdate(MergeSql.ansiMergeStatement(table, stage))
      st.executeUpdate(s"DROP TABLE $stage")
    }
  }
}
