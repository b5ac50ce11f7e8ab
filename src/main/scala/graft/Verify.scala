package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** One canonical cell rendering for the .rows.txt diff artifact:
    * doubles at 9 significant digits (the common checker normalization),
    * timestamps as UTC instants, arrays/structs recursively bracketed.
    * This format exists for human diffing of a red row, not for gating —
    * the gate itself compares only scalar integer/string/double cells
    * (see the query-boundary rules in SparkEntry). */
  private[graft] def canonCell(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN) "NaN"
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canonCell(f.toDouble)
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case s: scala.collection.Seq[_] =>
      s.map(canonCell).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(canonCell).mkString("(", ",", ")")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Dev-only narrowing (comma-separated query names); driver never sets
    // it — mirrors Bench's SPARK_GRAFT_BENCH_ONLY. oracle_sql.json is
    // narrowed to match so tools/check.py sees a consistent pair.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    var nOk = 0
    var nFail = 0
    // Per-query produce status, dumped as a correctness-SHAPED skeleton
    // (rows/schema/hash null until tools/check.py fills them) so a
    // stdout-less driver still finds a per-query artifact in the output
    // dir (VERDICT r14 #6 — third belt for the dead correctness capture).
    val produced = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        Harness.materialize(fn(spark, sfDir))(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        nOk += 1
        produced(name) = None
        // Divergence-capture artifact: the WRITTEN parquet (exactly what
        // the driver's checker reads) re-read and dumped as sorted
        // canonical row strings, so a driver-side hash red comes with the
        // first differing row identifiable from artifacts alone — not a
        // bare boolean. Reading the file back costs one small scan, never
        // a re-execution of the query. Its own try/catch: the gated
        // parquet above already landed, so a failure HERE (a 200k-row
        // collect OOM, an orderBy edge case) is a diagnostic-artifact
        // failure, not a broken query — the messages must differ.
        try {
        val out = spark.read.parquet(s"$outDir/$name")
        // deterministic capture: order by every orderable column BEFORE
        // the limit, so an over-200k truncation keeps a stable prefix
        // (a bare limit takes a planner-dependent subset that could omit
        // the very row a driver-side red hinges on)
        val sortCols = out.schema.fields.filter(f =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType)).map(f => org.apache.spark.sql
            .functions.col(f.name))
        val rows = (if (sortCols.nonEmpty) out.orderBy(sortCols.toSeq: _*)
          else out).limit(200001).collect()
        val canon = rows.map(r => r.toSeq.map(canonCell).mkString(" | "))
          .sorted
        val body = if (rows.length > 200000)
          canon.take(200000).mkString("\n") + "\n<<truncated at 200000 rows>>"
        else canon.mkString("\n")
        Files.writeString(Paths.get(s"$outDir/$name.rows.txt"), body)
        } catch { case e: Throwable =>
          System.err.println(
            s"[verify] $name artifact failed (gate output OK): ${e.getMessage}")
        }
      } catch { case e: Throwable =>
        nFail += 1
        produced(name) = Some(s"verify produce failed: ${e.getMessage}")
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def write(file: String, value: Any): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), Harness.json.writeValueAsString(value))
    write("oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    // UN-narrowed dump for the oracle-side output-dtype sweep
    // (tools/check.py --dtypes-only): the sweep DESCRIBEs every oracle SQL
    // without needing the Spark outputs, so it must see the full map even
    // under SPARK_GRAFT_VERIFY_ONLY.
    write("oracle_sql_full.json", SparkEntry.oracleSql)
    // The GENERATED upsert dialect strings, dumped for execution-level
    // validation: Derby executes the ANSI MERGE in StreamingSpec; the
    // Postgres ON CONFLICT string (no Postgres/H2/pgjdbc in the sandbox)
    // is executed by tools/pg_dialect_check.py against DuckDB's
    // PG-flavored ON CONFLICT implementation — the exact string the
    // generator emits, so dialect drift cannot hide behind a copy.
    write("merge_sql.json", ListMap(
      "pg_upsert" -> graft.streaming.MergeSql.upsertStatement("ride_metrics"),
      "ansi_merge" -> graft.streaming.MergeSql
        .ansiMergeStatement("ride_metrics", "ride_metrics_stage")))
    // Correctness-shaped per-query skeleton (VERDICT r14 #6): one entry
    // per attempted query; rows/schema/hash start null ("produced, not
    // yet oracled") and tools/check.py REWRITES this file in place with
    // the filled verdicts. A failed produce carries its error here, so
    // the artifact dir alone distinguishes "never ran" from "red".
    write("correctness.json", produced.map { case (name, err) =>
      name -> ListMap("rows_match" -> None, "schema_match" -> None,
        "hash_match" -> None, "err" -> err.map(_.take(300)))
    })
    // Tail-proof LAST stdout line (VERDICT r13 #1): the driver's
    // correctness capture arrived empty two rounds running; a short
    // machine-parseable exit summary makes pass/fail recoverable from any
    // stdout tail window even if the per-query artifacts are lost.
    // outDir is JSON-escaped (ADVICE r14): a quote/backslash in the path
    // must not break the machine-parseable contract line.
    println(Harness.json.writeValueAsString(ListMap("n_queries" -> (nOk + nFail),
      "n_ok" -> nOk, "n_fail" -> nFail, "out_dir" -> outDir)))
    spark.stop()
  }
}
