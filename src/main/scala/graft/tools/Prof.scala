package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Offline per-job profiler for one SparkEntry query — NOT part of the
  * gated surface (the ScaleProbe discipline). A cold query's wall time to
  * its full result (`Bench.timeFullResult`) splits into (a) executed job
  * time (Σ per-job wall) and (b) the driver-side gap — Catalyst
  * analysis/optimization and whole-stage codegen compilation, which job
  * timing never shows. The r14 perf pass
  * uses this split to decide whether a slow query needs a smaller plan
  * (big gap) or fewer/cheaper jobs (big Σ).
  *
  * Usage: runMain graft.tools.Prof <queryName>[,<queryName>…] [sfDir] [runs]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Harness.session(32)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // session warmup
    val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, String)]
    val starts = new scala.collection.concurrent.TrieMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse(""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, d) =>
          jobs.synchronized { jobs += ((j.jobId, t0, System.nanoTime(), d)) }
        }
    })
    for (name <- names; r <- 1 to runs) {
      jobs.synchronized { jobs.clear() }
      val sample = graft.Bench.timeFullResult(graft.SparkEntry.queries(name)(spark, sfDir))
      // listener events are async; give the bus a beat before reading
      Thread.sleep(500)
      val js = jobs.synchronized { jobs.sortBy(_._2).toVector }
      val jobSum = js.map(j => (j._3 - j._2) / 1e9).sum
      sample match {
        case Right(total) =>
          println(f"== $name run $r: TOTAL $total%.2f s | jobs ${js.size} | " +
            f"job-sum $jobSum%.2f s | driver gap ${total - jobSum}%.2f s")
        case Left(e) =>
          println(f"== $name run $r: FAILED ${e.getMessage} | jobs ${js.size} | " +
            f"job-sum $jobSum%.2f s")
      }
      js.foreach { case (id, s, e, d) =>
        println(f"  job $id%4d ${(e - s) / 1e9}%8.3f s  ${d.take(100)}")
      }
    }
    spark.stop()
  }
}
