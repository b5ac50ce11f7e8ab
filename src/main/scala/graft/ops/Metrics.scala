package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship analytic: per-key, per-event-time-window count + mean,
  * with bounded lateness — the reference's only query
  * (spark_jobs/streaming_job.py:114-125), generalized over column names
  * and window/lateness durations.
  *
  * Scale posture: `groupBy(window, key)` plans as partial HashAggregate →
  * hash Exchange on (window, key) → final HashAggregate. State (streaming)
  * is bounded by the watermark; batch needs no state. Group-key cardinality
  * = keys × active-windows, so the shuffle is on pre-aggregated partials —
  * this holds at 100 TB as long as key cardinality does.
  */
object Metrics {

  /** Parameters of the windowed metric (defaults = the reference's:
    * 1-minute tumbling window, 10-minute watermark). */
  final case class WindowSpec(
      timeCol: String = "event_timestamp",
      keyCol: String = "city",
      idCol: String = "trip_id",
      valueCol: String = "fare_amount",
      windowDuration: String = "1 minute",
      lateness: String = "10 minutes") {
    /** The input columns the aggregate reads. */
    def columns: Seq[String] = Seq(timeCol, keyCol, idCol, valueCol)
  }

  /** A1–A3 + W1–W2 + P4: watermark (streaming only) → tumbling window ×
    * key → count(id), avg(value) → flatten with `window.end` as
    * `last_updated` (reference: streaming_job.py:18-23, 114-125).
    * Epoch-aligned windows: event at t falls in [floor(t/w)*w, +w). */
  def windowedMetrics(spec: WindowSpec, streaming: Boolean)(df: DataFrame): DataFrame = {
    val watermarked = if (streaming) df.withWatermark(spec.timeCol, spec.lateness) else df
    watermarked
      .groupBy(window(col(spec.timeCol), spec.windowDuration), col(spec.keyCol))
      .agg(
        count(col(spec.idCol)).as("total_trips"),
        avg(col(spec.valueCol)).as("average_fare"))
      .select(
        col(spec.keyCol),
        col("total_trips"),
        col("average_fare"),
        col("window.end").as("last_updated"))
  }

  /** Batch twin of the sink's *accumulated* state (reference intent,
    * README.md:30): after every window has been merged, `city_metrics`
    * holds per key: the lifetime trip total, the average fare of the most
    * recent window, and that window's end as `last_updated`
    * (streaming_job.py:37-44 — `total_trips` accumulates additively,
    * `average_fare`/`last_updated` are last-writer-wins).
    *
    * Computed as windowed metrics → per-key total + latest-window pick via
    * a row_number window function (one extra shuffle on key only). */
  def accumulatedMetrics(spec: WindowSpec)(df: DataFrame): DataFrame = {
    val perWindow = windowedMetrics(spec, streaming = false)(df)
    val latestFirst = Window
      .partitionBy(col(spec.keyCol))
      .orderBy(col("last_updated").desc)
    perWindow
      .withColumn("grand_total", sum(col("total_trips")).over(Window.partitionBy(col(spec.keyCol))))
      .withColumn("rn", row_number().over(latestFirst))
      .filter(col("rn") === 1)
      .select(
        col(spec.keyCol),
        col("grand_total").as("total_trips"),
        col("average_fare"),
        col("last_updated"))
  }
}
