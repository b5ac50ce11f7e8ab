package perfbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The batch workload: oracle-gated SparkEntry queries over the
  * read-only fixture tables, each timed from the query function's call to
  * a fully materialized `noop` write. The seed only permutes query order. */
object BatchWorkloads {

  /** Short queries: per-query driver cost (entry + plan + scheduling) is a
    * large share of their wall time. One to six per family, about 9 s in
    * all on a 4-core host at sf0.1. */
  val interactive: Seq[String] = Seq(
    "ref_window_agg", "ref_cast_epoch", "q1_pricing",
    "rel_anti_join", "rel_case_when", "rel_distinct", "rel_having", "rel_pivot",
    "rel_string_funcs", "rel_unpivot", "rel_window_ntile",
    "sql_correlated_subquery", "sql_native_funcs", "stream_funnel", "stream_interval_join",
    "sample_stratified", "sample_split", "ts_zscore", "text_normalize", "text_token_stats",
    "mm_meta", "pack_sequences", "dedup_exact", "ann_range_search")

  /** Warm-up query, outside both lists, so JIT and codegen warm-up is not
    * charged to the first timed query. */
  private val warmUpQuery = "ref_accumulated_upsert"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Set up `Main.setupRounds` times (new session, every fixture table's
    * schema read, one warm-up query) and keep the last; set-up time is the
    * median. */
  private def setUp(st: Settings): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until Main.setupRounds).map { _ =>
      Option(spark).foreach(_.stop())
      val t0 = Clock.nowMs
      spark = Main.session(st.cpus, st.out)
      tables.filter(t => Files.exists(Paths.get(st.sfDir, s"$t.parquet")))
        .foreach(t => spark.read.parquet(s"${st.sfDir}/$t.parquet"))
      SparkEntry.queries(warmUpQuery)(spark, st.sfDir).write.format("noop").mode("overwrite").save()
      (Clock.nowMs - t0) / 1000.0
    }
    (spark, times)
  }

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Time `names` (looked up in `registry`) once each, in seed order. */
  def run(st: Settings, names: Seq[String], registry: Map[String, Query], trace: Trace,
      ops: OpLog): Outcome = {
    val (spark, setupS) = trace.span("setup")(setUp(st))
    val order = new scala.util.Random(st.seed).shuffle(names)
    val inst = if (st.trace) Some(new Instruments(spark, trace)) else None
    inst.foreach(_.install())

    final case class Timing(q: String, wallMs: Double, buildMs: Double, analysisMs: Double)
    val timings = order.flatMap { q =>
      spark.catalog.clearCache()
      trace.span("query") {
        inst.foreach(_.enter(q, trace.currentId))
        ops.attempt(q) {
          val t0 = Clock.nowMs
          val df = trace.span("entry.build")(registry(q)(spark, st.sfDir))
          val t1 = Clock.nowMs
          trace.span("exec.noop_write")(df.write.format("noop").mode("overwrite").save())
          val t2 = Clock.nowMs
          // The query's own analysis ran eagerly inside its function; the
          // listener sees only the write's and the eager rounds' phases.
          val analysis = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs.toDouble).getOrElse(0.0)
          Timing(q, t2 - t0, t1 - t0, analysis)
        }
      }
    }
    inst.foreach(_.uninstall())

    val walls = timings.map(_.wallMs)
    val suiteMs = walls.sum
    var layers = Map.empty[String, Double]
    var perQuery = timings.map(t => t.q -> Map[String, Double]("wall_ms" -> t.wallMs,
      "build_ms" -> t.buildMs)).toMap
    inst.foreach { i =>
      val per = timings.map { t =>
        val c = i.get(t.q)
        t.q -> (StreamWorkloads.execLayers(c, t.wallMs) + ("entry.build_ms" -> t.buildMs) +
          ("plan.analysis_ms" -> (c.analysisMs + t.analysisMs)))
      }
      layers = per.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2) {
        (a, b) => a + b }
      layers += "shuffle.skew_max" -> per.map(_._2("shuffle.skew_max")).maxOption.getOrElse(0.0)
      perQuery = per.map { case (q, m) => q -> (m ++ perQuery(q)) }.toMap
    }
    val families = perQuery.groupBy(_._1.takeWhile(_ != '_')).map { case (fam, qs) =>
      fam -> qs.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    }
    Outcome(
      layers ++ Map(
        "setup_s" -> Stats.median(setupS),
        "work_s" -> suiteMs / 1000.0,
        "throughput_per_s" -> timings.size / (suiteMs / 1000.0),
        "latency_p50_ms" -> Stats.quantile(walls, 0.5),
        "latency_p90_ms" -> Stats.quantile(walls, 0.9)),
      0L,
      Map("order" -> order, "suite_s" -> suiteMs / 1000.0, "setup_s_repeats" -> setupS,
        "per_query" -> perQuery, "per_family" -> families))
  }

  /** Untimed output check: each query's result as one parquet directory
    * under `outDir`, plus the oracle SQL for the DuckDB compare. */
  def dumpForOracle(st: Settings, names: Seq[String], ops: OpLog): Unit = {
    val spark = Main.session(st.cpus, st.out)
    val outDir = s"${st.out}/oracle"
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      ops.attempt(q)(SparkEntry.queries(q)(spark, st.sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$q"))
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Main.json.writeValueAsString(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    spark.stop()
  }
}
