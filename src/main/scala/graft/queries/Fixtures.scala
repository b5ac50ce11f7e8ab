package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What more than one query family reads: the fixture loader `t`, and the
  * per-process scratch paths and table-name suffix of the queries that
  * write and read back. */
object Fixtures {
  /** Fixture loader. `events.ts` has shipped in two physical shapes across
    * driver generations: TIMESTAMP(NANOS) (Spark reads only as a raw long
    * via nanosAsLong → truncate to micros, matching DuckDB's scan) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (Spark reads as
    * TIMESTAMP_NTZ → reinterpret as session-UTC TimestampType, value-equal
    * to DuckDB's naive TIMESTAMP). Adapt on the observed schema so the
    * engine-side column is always a microsecond TimestampType. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df0 = s.read.parquet(s"$dir/$name.parquet")
    val df =
      if (name == "events" &&
          df0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df0
    // Any remaining NTZ column (o_orderdate, l_shipdate, micros-shape ts)
    // → session-UTC TimestampType, value-preserving under the UTC session.
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))
  }

  /** Per-process scratch root for the Layout write/read-back queries.
    *
    * MUST be unique per JVM: these queries write a path and read it back
    * within one plan, so a FIXED shared path (the pre-r6
    * `/tmp/graft-layout/<name>`) lets any concurrent process — driver
    * verify, driver bench, sbt test — overwrite the input mid-flight.
    * That race was the adjudicated root cause of four red r5 rows
    * (same group count, wrong aggregates: rows_match ∧ ¬hash_match).
    * `createTempDirectory` gives an OS-unique root; deleteOnExit keeps
    * /tmp bounded across repeated runs. */
  private lazy val layoutRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private[graft] def layoutPath(name: String): String = layoutRoot + "/" + name

  /** Per-process suffix for metastore table names (bucketed tables): two
    * concurrent JVMs each registering `graft_li_b` would collide if a
    * shared catalog were ever configured, and DROP TABLE IF EXISTS from
    * one would yank the other's table. The pid makes names disjoint. */
  private[graft] lazy val tableSuffix: String =
    "_p" + java.lang.ProcessHandle.current().pid()
}
