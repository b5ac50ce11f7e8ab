package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: dumps the formatted physical plan of every SparkEntry
  * query so scan pruning (ReadSchema/PushedFilters), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), exchange count, and
  * WholeStageCodegen spans can be reviewed. `sbt "runMain graft.Explain
  * [sfDir] [out.md]"`. */
object Explain {
  /** The formatted physical plan of SparkEntry query `name` at `sfDir`,
    * or `ERROR: <message>` when building it throws. The checkpoints the
    * query pinned while it was built are freed once its plan is printed
    * (`Harness.materialize`). Each pin prints as one `Scan ExistingRDD`
    * leaf, so no plan expands another query's pinned fragments (cached
    * fragments once inflated graph_louvain_multilevel's section to 1.2M
    * lines). Plans can embed raw control bytes in
    * expression literals (the ustar NUL padding in mm_tar_shards' concat
    * tree turned the whole file "binary" for grep/diff); they are rendered
    * as `\xNN` escapes so every receipt stays a text file. */
  def plan(spark: SparkSession, name: String, sfDir: String): String = {
    val text =
      try Harness.materialize(SparkEntry.queries(name)(spark, sfDir))(
        _.queryExecution.explainString(ExplainMode.fromString("formatted")))
      catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
    text.map {
      case c if c == '\n' || c == '\t' || c >= ' ' => c.toString
      case c => f"\\x${c.toInt}%02x"
    }.mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Harness.session(4)
    val sb = new StringBuilder
    sb.append(s"# Physical plans (sf dir: $sfDir)\n\n")
    sb.append("Audit artifact — regenerate with `sbt \"runMain graft.Explain\"`.\n")
    // `plan` frees each query's pins before the next is built; cap any
    // still-pathological section loudly instead of flooding the file.
    val maxLines = 4000
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val text = plan(spark, name, sfDir)
      val lines = text.linesIterator.toSeq
      val capped =
        if (lines.size <= maxLines) text
        else lines.take(maxLines).mkString("", "\n",
          s"\n... TRUNCATED: ${lines.size - maxLines} more lines " +
            "(pathological textual expansion — audit interactively)\n")
      sb.append(s"\n## $name\n\n```\n$capped```\n")
    }
    // Scale audit: headline plans re-derived at sf0.1, where table sizes are
    // big enough for Catalyst's size estimates to matter (at sf0.001 every
    // join broadcasts trivially). Round-3 finding recorded here: the r2 bench
    // read sql_entrypoint at 2.63 s; min-of-5 re-measure gives 1.36 s and the
    // sf0.1 plan below is the desired shape — nation/region/customer (and the
    // 3-column-pruned lineitem, at this SF only) broadcast, single Exchange
    // for the final group-by. The 2.63 s sample was host noise (BASELINE.md
    // I/O-stall caveat); Bench now defaults to min-of-3.
    // getAbsoluteFile first: a single-segment relative sfDir (e.g. "sf0.001")
    // has a null getParentFile, and new File(null, "sf0.1") would silently
    // resolve against the CWD — auditing an unrelated ./sf0.1 if one exists.
    val auditSf =
      new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.1")
    if (auditSf.isDirectory) {
      Seq("sql_entrypoint", "dedup_minhash_lsh", "dedup_groups",
          "decon_ngram", "pack_sequences", "rel_bloom_semi_join").foreach { name =>
        sb.append(s"\n## scale-audit:$name (sf0.1)\n\n```\n${plan(spark, name, auditSf.getPath)}```\n")
      }
    } else {
      sb.append(s"\n(scale-audit section skipped: no sf0.1 sibling of $sfDir)\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
