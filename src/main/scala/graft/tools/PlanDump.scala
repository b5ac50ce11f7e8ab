package graft.tools

/** Dumps `.explain("formatted")` for a comma-separated list of SparkEntry
  * queries to `<outDir>/<query>_<suffix>.txt` — the per-change plan
  * receipts the optimization rounds commit under plans/r<N>/.
  * `sbt "runMain graft.tools.PlanDump <q1,q2,…> <outDir> <suffix> [sfDir]"` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Harness.session(4)
    names.foreach { name =>
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
        graft.Explain.plan(spark, name, sfDir))
      println(s"wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
