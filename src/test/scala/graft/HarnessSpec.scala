package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The shared harness: one session builder, and the full-result timer
  * Bench and Prof sample with. */
class HarnessSpec extends SparkSuite {
  test("Harness.scala is the only place a session is built") {
    def filesMatching(roots: Seq[String])(hit: String => Boolean): Seq[String] =
      roots.flatMap { root =>
        val dir = Paths.get(root)
        assert(Files.isDirectory(dir), s"$root not found under ${Paths.get("").toAbsolutePath}")
        val files = Files.walk(dir)
        try files.iterator.asScala
          .filter(p => Files.isRegularFile(p) && hit(Files.readString(p)))
          .map(_.toString).toList.sorted
        finally files.close()
      }
    def filesWith(needle: String, roots: Seq[String]): Seq[String] =
      filesMatching(roots)(_.contains(needle))
    // Split so this file does not match itself.
    val needle = "SparkSession" + ".builder()"
    assert(filesWith(needle, Seq("src/main/scala", "src/test/scala")) ==
      Seq("src/main/scala/graft/Harness.scala"))
    // Likewise one owner for freeing round checkpoints: no other program
    // file reads the session's persistent-RDD registry or checkpoint ids
    // (the tests still read the registry for their leak bounds).
    for (n <- Seq("getPersistent" + "RDDs", "ckpt" + "Ids"))
      assert(filesWith(n, Seq("src/main/scala")) ==
        Seq("src/main/scala/graft/ops/Rounds.scala"), n)
    // And one owner for every storage pin: only ops/Rounds (and the
    // bridge it frees checkpoints through) checkpoints or releases a
    // frame. The owner's own calls, `Rounds.checkpoint(...)`, are how
    // everything else pins.
    val pin = """\.localCheckpoint\(|unpersist\(|clearCache""".r
    val owners = Set("src/main/scala/graft/ops/Rounds.scala",
      "src/main/scala/org/apache/spark/sql/graftbridge/GraftBridge.scala")
    val pinning = filesMatching(Seq("src/main/scala"))(pin.findFirstIn(_).isDefined)
    assert(pinning.nonEmpty && pinning.forall(owners), pinning)
    // And one kind of pin, the local checkpoint: no program file, the
    // owner included, caches a frame or reads the session's cache entries.
    val cache = """\.persist\(|\.cache\(\)|cacheManager|CachedData""".r
    val caching = filesMatching(Seq("src/main/scala"))(cache.findFirstIn(_).isDefined)
    assert(caching.isEmpty, caching)
  }

  test("Harness.session(k): master local[k], k shuffle partitions, UTC") {
    // The suite's session already exists, so session() must (re)apply its
    // SQL settings to it: move them away first.
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val s = Harness.session(4)
      assert(s.sparkContext.master == "local[4]")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("Bench.timeFullResult: a throwing query is failed, a good query gets a time") {
    val atBuild = Bench.timeFullResult(throw new IllegalStateException("no plan"))
    assert(atBuild.left.map(_.getMessage) == Left("no plan"))
    // Throws only while its result is computed; a count() would prune the
    // failing column away.
    val atRun = Bench.timeFullResult(spark.range(0, 10, 1, 1).select(raise_error(lit("bad row"))))
    assert(atRun.left.exists(_.getMessage.contains("bad row")), atRun.toString)
    val good = Bench.timeFullResult(spark.range(1000).select(sum(col("id"))))
    assert(good.exists(_ > 0.0), good.toString)
  }
}
