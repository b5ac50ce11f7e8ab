package graft

import org.apache.spark.sql.DataFrame
import scala.collection.immutable.ListMap

/** Driver-run benchmark: wall time per SparkEntry query over
  * SPARK_GRAFT_SF_DIR to its full result, one JSON line on stdout (the
  * output contract). Runs on Spark's defaults, which keep AQE on (runtime
  * re-plan: coalesced shuffle partitions, skew-join splitting, broadcast
  * demotion/promotion) — the same flags a production cluster runs with. */
object Bench {
  /** One timed sample: seconds from building the query to its fully
    * materialized result, or the exception building or running it threw.
    * The result goes to the `noop` sink, so every column the oracle checks
    * is computed; a `count()` would let Catalyst prune projections and
    * aggregates it does not need. Each sample builds the query afresh,
    * and its pins are checkpoints only that build's frames read, so the
    * next sample of the same query recomputes them; everything the
    * sample pinned is freed when it ends (`Harness.materialize`). */
  def timeFullResult(query: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      Harness.materialize(query)(_.write.format("noop").mode("overwrite").save())
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Session warmup (scheduler, codegen compiler, parquet footer cache):
    // keeps per-query numbers about the queries, not JVM init.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Min of `runs` executions per query: the host exhibits intermittent
    // multi-10-second I/O stalls (BASELINE.md round-2 caveat) that inflate
    // a single sample uniformly; the minimum is the standard microbenchmark
    // estimator for the code's actual cost under such additive noise.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Dev-only narrowing (comma-separated query names); driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Samples are INTERLEAVED (A,B,C,…,A,B,C,… — not A,A,A,B,B,B): the
    // r5 driver run showed two alphabetically-adjacent trivial queries at
    // 16 s / 13 s, i.e. one host stall window swallowing ALL consecutive
    // samples of neighboring queries despite min-of-3. Round-robin spaces
    // a query's samples a full suite apart, so a single stall can inflate
    // at most one sample of each — which the min then discards.
    val best = Array.fill(queries.size)(Double.MaxValue)
    val failed = Array.fill(queries.size)(false)
    for (r <- 0 until runs; i <- queries.indices if !failed(i)) {
      val (name, fn) = queries(i)
      timeFullResult(fn(spark, sfDir)) match {
        case Right(t) => best(i) = best(i) min t
        case Left(e) =>
          failed(i) = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }
    // A query that threw has no time: it is listed under "failed" and
    // left out of the per-query map and the total.
    val results = queries.indices.filterNot(failed).map(i => queries(i)._1 -> best(i))
    val failedNames = queries.indices.filter(failed).map(i => queries(i)._1)
    val total = results.map(_._2).sum
    // Field order is part of the contract lines, hence ListMap; the
    // encoder escapes any quote or backslash in sfDir/fullOut (ADVICE r14).
    val line = Harness.json.writeValueAsString(ListMap("metric" -> "total",
      "value" -> total, "unit" -> "sec", "queries" -> ListMap(results: _*),
      "failed" -> failedNames, "sf" -> sfDir, "runs_per_query" -> runs, "agg" -> "min"))
    println(line)
    // Persist the COMPLETE per-query map too: the driver's stdout capture
    // has truncated the front of the alphabetical tail in past rounds
    // (BENCH_r11 lost everything before src_*), so regressions in the a–s
    // families were unauditable from artifacts. Default path is cwd
    // (repo root under sbt); round-close batteries set
    // SPARK_GRAFT_BENCH_FULL_OUT=bench_full_r<N>.json and commit it.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullOut), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full artifact write failed: ${e.getMessage}") }
    // Tail-proof LAST line (VERDICT r13 #1): the driver's stdout parse has
    // failed four rounds running because the 300-query map above overflows
    // its tail window. This short line (<300 bytes while no query fails,
    // contract-shaped: metric/value/unit/sf present) survives ANY >=2 KB
    // tail capture; the per-query map lives in the full line above and in
    // the artifact file.
    println(Harness.json.writeValueAsString(ListMap("metric" -> "total",
      "value" -> total, "unit" -> "sec", "n_queries" -> results.size,
      "failed" -> failedNames, "sf" -> sfDir, "runs_per_query" -> runs, "agg" -> "min",
      "artifact" -> fullOut)))
    spark.stop()
  }
}
