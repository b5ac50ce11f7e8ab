package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session builder: Bench, Verify, Explain, the tools and the
  * test suites all take their session from here, each passing the core
  * count it runs with. Also the one way those run a query to its result,
  * and the one JSON encoder of the mains' output. */
object Harness {
  /** Renders Scala maps, sequences and options; a `ListMap` keeps its
    * field order, as the tail-proof contract lines need. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI, WARN logging. A session already running in this JVM is
    * returned with the SQL settings applied (`getOrCreate`). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds `query`, runs `sink` on it (a noop or parquet write, an
    * explain string, a collect) and then frees every checkpoint the
    * build and the sink pinned: one query scope of `ops.Rounds`. Other
    * queries' pins stay, even of the same plan: a checkpoint belongs to
    * the frame that made it. */
  def materialize[T](query: => DataFrame)(sink: DataFrame => T): T =
    graft.ops.Rounds.scoped(sink(query))
}
