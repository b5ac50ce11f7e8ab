package perfbench

import graft.SparkEntry

/** The harness's own failure-accounting test: a deliberately throwing
  * query goes through the batch harness between two real ones. It must
  * be counted as attempted and failed, and appear in no timing. */
object SelfTest {
  val forcedFailure = "perfbench_forced_failure"

  def run(st: Settings, trace: Trace, ops: OpLog): Outcome = {
    val names = Seq("ref_window_agg", forcedFailure, "rel_distinct")
    val registry: Map[String, BatchWorkloads.Query] = SparkEntry.queries +
      (forcedFailure -> ((_, _) => throw new IllegalStateException("forced failure")))
    val out = BatchWorkloads.run(st, names, registry, trace, ops)
    val perQuery = out.detail("per_query").asInstanceOf[Map[String, Map[String, Double]]]
    val walls = perQuery.values.map(_("wall_ms")).sum
    val checks = Seq(
      "attempted counts every query" -> (ops.attempted == 3),
      "the throwing query is the one failure" -> (ops.failed == 1 &&
        ops.failures.map(_._1) == Seq(forcedFailure)),
      "no timing for the failed query" -> !perQuery.contains(forcedFailure),
      "both real queries timed" -> (perQuery.keySet == Set("ref_window_agg", "rel_distinct")),
      "work_s sums successful queries only" ->
        (math.abs(out.metrics("work_s") * 1000.0 - walls) < 1e-6),
      "latency over successful queries only" ->
        (math.abs(out.metrics("latency_p50_ms") - Stats.median(perQuery.values.map(_("wall_ms")).toSeq)) < 1e-6))
    checks.foreach { case (what, ok) => println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $what") }
    Outcome(out.metrics, checks.count(!_._2).toLong, out.detail)
  }
}
