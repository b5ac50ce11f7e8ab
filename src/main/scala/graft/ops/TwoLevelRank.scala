package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-level distributed prefix rank/sum — the repo's standard
  * replacement for a corpus-wide `Window.orderBy(...)`, which computes
  * the right numbers but serializes EVERY row through one task (the
  * classic global-sort scale killer at 100 TB).
  *
  * Formulation (per (partCols) group, for the total order
  * (orderCols..., tieCols...)):
  *
  *   1. a `stripe` expression buckets rows; the intra-stripe
  *      window runs PARTITIONED by (partCols, orderCols, stripe) —
  *      one parallel shuffle, no single task sees more than a stripe;
  *   2. stripe totals collapse to one row per (partCols, orderCols,
  *      stripe); their ordered prefix sum is the only partition-less
  *      window, over a frame stripe-width× smaller than the input;
  *   3. the prefix rejoins on the stripe keys — matching the intra
  *      window's partitioning, so only the collapsed side exchanges
  *      (set `broadcastPrefix` when the collapsed frame is provably
  *      small; otherwise leave it to AQE).
  *
  * CORRECTNESS PRECONDITION: within each (partCols, orderCols) cell,
  * `stripe` must be monotone non-decreasing in the (tieCols) order —
  * e.g. stripe = `id div 4096` under order (..., id), or stripe =
  * `substring(key, 1, 2)` under order (key, ...). Violating it
  * interleaves stripes in the total order and the rank is wrong.
  *
  * The input is referenced twice (raw rows + stripe totals); callers
  * that pin `df` (a checkpoint) get reuse on both branches — left
  * unpinned here so the operator has no storage side effects.
  *
  * Call sites: Training.packSequences / packShelves / epochShuffle,
  * Multimodal.shardManifest, SparkEntry rel_key_skew /
  * sample_length_bucket. */
object TwoLevelRank {

  /** 1-based global rank (row_number semantics — ties broken by
    * tieCols) over the order (orderCols..., tieCols...) within each
    * (partCols) group, as `out` (long). */
  def rank(df: DataFrame, partCols: Seq[String], orderCols: Seq[String],
      stripe: Column, tieCols: Seq[String], out: String,
      broadcastPrefix: Boolean = false): DataFrame =
    compute(df, partCols, orderCols, stripe, tieCols, lit(1L), out,
      broadcastPrefix, rankMode = true)

  /** EXCLUSIVE prefix sum of `value` (Σ over rows strictly preceding
    * in the order) as `out` (long). */
  def prefixSum(df: DataFrame, partCols: Seq[String], orderCols: Seq[String],
      stripe: Column, tieCols: Seq[String], value: Column, out: String,
      broadcastPrefix: Boolean = false): DataFrame =
    compute(df, partCols, orderCols, stripe, tieCols, value, out,
      broadcastPrefix, rankMode = false)

  private def compute(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[String], stripe: Column, tieCols: Seq[String],
      value: Column, out: String, broadcastPrefix: Boolean,
      rankMode: Boolean): DataFrame = {
    require(tieCols.nonEmpty, "tieCols must order rows within a stripe")
    // __g is also the name the key-skew plan-shape spec pins on the
    // windowspecdefinition — keep it stable.
    val g = "__g"
    require(!df.columns.contains(g), s"input already has a $g column")
    val keys = partCols ++ orderCols :+ g
    val base = df.withColumn(g, stripe)
    val intraW = Window.partitionBy(keys.map(col): _*)
      .orderBy(tieCols.map(col): _*)
    val bucketW = Window.partitionBy(partCols.map(col): _*)
      .orderBy((orderCols :+ g).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val collapsed = base.groupBy(keys.map(col): _*)
      .agg(sum(value).as("__tlr_tot"))
    val prefix0 = collapsed.select((keys.map(col) :+
      coalesce(sum(col("__tlr_tot")).over(bucketW), lit(0L))
        .as("__tlr_before")): _*)
    val prefix = if (broadcastPrefix) broadcast(prefix0) else prefix0
    val intra =
      if (rankMode) row_number().over(intraW).cast("long")
      else coalesce(sum(value).over(
        intraW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    base.withColumn("__tlr_intra", intra)
      .join(prefix, keys)
      .withColumn(out, col("__tlr_before") + col("__tlr_intra"))
      .drop(g, "__tlr_intra", "__tlr_before")
  }

  /** Exact `ntile(n)` bucket (SQL-standard remainder convention: the
    * first `N mod n` buckets take the extra row) from a 1-based rank
    * and the group total — pure integer arithmetic, so a distributed
    * rank + this expression replaces a partition-less
    * `ntile(n).over(Window.orderBy(...))` exactly. */
  def ntileFromRank(rank: Column, total: Column, n: Int): Column = {
    // all quotients are integral `div` (never `/`, which is double
    // division and can mis-floor at extreme magnitudes)
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val t = total.cast("long")
    val q = idiv(t, lit(n.toLong))
    val m = t % n
    val r0 = rank.cast("long") - 1L
    // q = 0 (fewer rows than buckets): every row satisfies r0 < m·1,
    // so the guarded otherwise-divisor never fires.
    when(r0 < m * (q + 1L), idiv(r0, q + 1L) + 1L)
      .otherwise(m + idiv(r0 - m * (q + 1L), greatest(q, lit(1L))) + 1L)
      .cast("int")
  }
}
