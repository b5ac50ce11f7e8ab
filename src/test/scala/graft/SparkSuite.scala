package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite, UTC, small shuffle width. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session(4)

  /** Each test runs in its own query scope (`ops.Rounds.scoped`): the
    * caches and checkpoints its queries pin on the test thread are freed
    * when it ends, so no test plans against another's cached fragments
    * and none needs the session-global `clearCache`. Queries a test runs
    * from a pool take their own scope through `Harness.materialize`. */
  override def withFixture(test: NoArgTest): Outcome =
    graft.ops.Rounds.scoped(super.withFixture(test))

  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` over SparkEntry queries (default: every one, by name; a
    * name listed twice runs twice) from a small thread pool (guide
    * §2.6 — actions are only sequential because a driver calls them
    * sequentially): the three all-query sweeps dominated the suite's
    * wall time (5:24 + 3:18 + 2:37 of it, r16 measurement) and their
    * per-query cost is fixed driver overhead — planning, codegen, the
    * eager construction-time loops — which overlaps cleanly across
    * threads. Safe by construction: temp-view names always register the
    * same table, scratch paths are per-query under a per-process root,
    * and the bucketed-table names belong to a single query (the
    * Fixtures.layoutRoot/tableSuffix scaladocs). Results keep query order, so
    * assertion messages are deterministic. `f` runs each query through
    * `Harness.materialize`, so what one run pins is freed when it ends and
    * never by another. */
  def sweepQueries[T](threads: Int = 8,
      names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted)(
      f: (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)
        => Seq[T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = names.map(name => Future(f(name, SparkEntry.queries(name))))
      Await.result(Future.sequence(futs), Duration.Inf).flatten
    } finally pool.shutdown()
  }
}
