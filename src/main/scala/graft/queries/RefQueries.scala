package graft
package queries

import graft.model.Schemas
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Batch twins of the reference pipeline's own surface (SURVEY.md §2), plus
  * the flagship pricing aggregate (`q1_*`: partial+final hash aggregate,
  * one shuffle). */
object RefQueries {
  /** events(ts, event_type, event_id, value) plays the trip stream
    * (reference: spark_jobs/streaming_job.py:114-125). */
  private[graft] def refWindowAgg(s: SparkSession, dir: String): DataFrame =
    Metrics.windowedMetrics(
      Metrics.WindowSpec(timeCol = "ts", keyCol = "event_type",
        idCol = "event_id", valueCol = "value"),
      streaming = false)(t(s, dir, "events"))

  val cases: Seq[Case] = Seq(
    Case("ref_window_agg", (s, dir) => refWindowAgg(s, dir),
      Some("""SELECT event_type, count(event_id) AS total_trips, avg(value) AS average_fare,
        |       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated
        |FROM events GROUP BY event_type, date_trunc('minute', ts)""".stripMargin)),

    Case("ref_accumulated_upsert", (s, dir) =>
      Metrics.accumulatedMetrics(
        Metrics.WindowSpec(timeCol = "ts", keyCol = "event_type",
          idCol = "event_id", valueCol = "value"))(t(s, dir, "events")),
      Some("""WITH w AS (
        |  SELECT event_type, date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated,
        |         count(event_id) AS total_trips, avg(value) AS average_fare
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, total_trips, average_fare, last_updated FROM (
        |  SELECT event_type,
        |         CAST(sum(total_trips) OVER (PARTITION BY event_type) AS BIGINT) AS total_trips,
        |         average_fare, last_updated,
        |         row_number() OVER (PARTITION BY event_type ORDER BY last_updated DESC) AS rn
        |  FROM w) WHERE rn = 1""".stripMargin)),

    // P1/P2/P3 end-to-end: serialize events into the ride-event JSON wire
    // shape, parse with the declared schema, window-aggregate — proves the
    // from_json path yields the same metrics as querying columns directly.
    Case("ref_json_roundtrip_agg", { (s, dir) =>
      val ev = t(s, dir, "events")
      val payload = ev.select(to_json(struct(
        col("event_id").cast("string").as("trip_id"),
        col("event_type").as("city"),
        col("value").as("fare_amount"),
        col("ts").cast("double").as("event_timestamp"))).as("value"))
      val parsed = Ingest.consume(Schemas.rideEventSchema)(payload)
      Metrics.windowedMetrics(Metrics.WindowSpec(), streaming = false)(parsed)
    },
      Some("""SELECT event_type AS city, count(event_id) AS total_trips, avg(value) AS average_fare,
        |       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated
        |FROM events GROUP BY event_type, date_trunc('minute', ts)""".stripMargin)),

    Case("ref_json_extract", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_events")),
      Some("""SELECT event_type, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(props->>'k') AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),

    Case("ref_cast_epoch", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("double").as("epoch_s")),
      Some("SELECT event_id, epoch(ts) AS epoch_s FROM events")),

    // S7: the BI read path — scan + sort desc on the aggregate.
    Case("ref_sort_bi", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("total_trips"), avg(col("value")).as("average_fare"))
        .orderBy(col("total_trips").desc, col("user_id")),
      Some("""SELECT user_id, count(*) AS total_trips, avg(value) AS average_fare
        |FROM events GROUP BY user_id ORDER BY total_trips DESC, user_id""".stripMargin)),

    Case("q1_pricing", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice) AS sum_base_price,
        |       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |       avg(l_quantity) AS avg_qty,
        |       avg(l_extendedprice) AS avg_price,
        |       avg(l_discount) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
  )
}
