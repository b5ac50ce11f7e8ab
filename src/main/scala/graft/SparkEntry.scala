package graft

import graft.queries._
import graft.queries.RefQueries.refWindowAgg
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7): one `Case` per operator of the engine's
  * inventory, declared once in its family file under `graft.queries`, each
  * with DuckDB-equivalent oracle SQL where the semantics are
  * ANSI-SQL-expressible (hash-based signatures like MinHash/SimHash/
  * xxhash64-LSH are engine-defined → rows-only check).
  *
  * Naming groups (one family object each):
  *   ref_*, q1_* — batch twins of the reference's own surface, flagship
  *                 pricing aggregate                      (RefQueries)
  *   stream_*    — streaming operator batch twins         (StreamQueries)
  *   rel_*, skew_* — relational extension, skew mitigation (RelQueries)
  *   sql_*       — SQL entry point                        (SqlQueries)
  *   dedup_*     — deduplication suite                    (DedupQueries)
  *   ann_*       — similarity search                      (AnnQueries)
  *   sample_*    — deterministic sampling                 (SampleQueries)
  *   text_*      — text analysis                          (TextQueries)
  *   pack_*, decon_* — training-data preparation (PackQueries, DeconQueries)
  *   mm_*        — multimodal columns                     (MmQueries)
  *   src_*       — sources                                (SrcQueries)
  *   ts_*        — time series                            (TsQueries)
  *   graph_*     — graph analytics                        (GraphQueries)
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * reference's per-city per-minute metrics, batch twin over `events`. */
  def entry(spark: SparkSession): DataFrame =
    refWindowAgg(spark, "/root/testdata/sf0.001")

  /** Every registered query. A name-keyed `Map` would silently keep the
    * last of two equal names, so duplicates fail here instead. */
  val cases: Seq[Case] = {
    val all = RefQueries.cases ++ StreamQueries.cases ++ RelQueries.cases ++
      SqlQueries.cases ++ DedupQueries.cases ++ AnnQueries.cases ++
      SampleQueries.cases ++ TextQueries.cases ++ PackQueries.cases ++
      DeconQueries.cases ++ MmQueries.cases ++ SrcQueries.cases ++
      TsQueries.cases ++ GraphQueries.cases
    val dups = all.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.run).toMap

  val oracleSql: Map[String, String] =
    cases.flatMap(c => c.oracle.map(c.name -> _)).toMap
}
