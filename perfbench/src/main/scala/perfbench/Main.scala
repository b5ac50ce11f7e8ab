package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Attempted and failed operations (queries or micro-batches). A failed
  * operation is counted and contributes no timing. */
final class OpLog {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]

  def attempt[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch { case NonFatal(e) =>
      failed += 1
      failures += name -> String.valueOf(e.getMessage).take(300)
      None
    }
  }
}

/** Command-line settings of one benchmark run. */
final case class Settings(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int, out: String, sfDir: String) {
  def runId: String = s"$workload-$seed-${if (trace) "traced" else "plain"}"
}

/** What a workload hands back: every metric it measured (end-to-end and
  * per-layer, by name), its output-check result, and per-operation detail
  * for the artifact. */
final case class Outcome(metrics: Map[String, Double], wrongResults: Long,
    detail: Map[String, Any])

object Main {
  val workloads = Seq("stream_bulk", "batch_interactive")

  /** Set-up rounds per run, each of equal work; `setup_s` is their median,
    * so the first round's cold JVM does not set it. */
  val setupRounds = 5

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One local session per set-up: `local[k]` with k shuffle partitions,
    * UTC, no UI, scratch space inside the run's output directory. */
  def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parse(args: Array[String]): Settings = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Settings(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, need("out"),
      m.getOrElse("sf", ""))
  }

  def main(args: Array[String]): Unit = {
    val st = parse(args)
    require((workloads ++ Seq("oracle_dump", "self_test")).contains(st.workload),
      s"unknown workload ${st.workload}")
    Files.createDirectories(Paths.get(st.out))
    val trace = new Trace(st.trace, st.runId)
    val ops = new OpLog
    val t0 = Clock.nowMs
    val outcome = st.workload match {
      case "stream_bulk" => StreamWorkloads.bulk(st, trace, ops)
      case "oracle_dump" =>
        BatchWorkloads.dumpForOracle(st, BatchWorkloads.interactive, ops)
        Outcome(Map.empty, 0L, Map.empty)
      case "self_test" => SelfTest.run(st, trace, ops)
      case _ => BatchWorkloads.run(st, BatchWorkloads.interactive, graft.SparkEntry.queries, trace, ops)
    }
    val result = Map(
      "workload" -> st.workload, "seed" -> st.seed, "seconds" -> st.seconds,
      "trace" -> st.trace, "cpus" -> st.cpus, "run_id" -> st.runId,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "wrong_results" -> outcome.wrongResults,
      // A metric that is not finite was not measured; run.py reports it missing.
      "metrics" -> (outcome.metrics + ("jvm.peak_rss_mb" -> peakRssMb()))
        .filter { case (_, v) => !v.isNaN && !v.isInfinite },
      "wall_s" -> (Clock.nowMs - t0) / 1000.0,
      "detail" -> outcome.detail,
      "self_time_ms" -> trace.selfTimes.map { case (k, (tot, self)) =>
        k -> Map("total" -> tot, "self" -> self) })
    Files.writeString(Paths.get(st.out, "result.json"), json.writeValueAsString(result))
    if (st.trace)
      Files.writeString(Paths.get(st.out, "spans.jsonl"), trace.all.map { s =>
        json.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end, "parent" -> s.parent, "run_id" -> s.runId))
      }.mkString("", "\n", "\n"))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
