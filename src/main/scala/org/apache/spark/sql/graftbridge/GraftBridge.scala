package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.columnar.CachedRDDBuilder

/** Re-exposes the few `private[sql]`/`private[spark]` members graft
  * needs; the object lives under `org.apache.spark.sql` for that reason
  * alone (the standard pattern for libraries that ship native Catalyst
  * expressions). Spark 4 moved the Column ↔ Expression converters behind
  * `org.apache.spark.sql.classic.ExpressionUtils`. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a session-extension installer to an existing session's function
    * registry (`spark.sql.extensions` is a static conf, unusable once a
    * context exists): how the SQL-surface queries and the tests install
    * `GraftExtensions`' functions. A no-op on a session whose registry
    * already holds every function `f` injects: re-registering replaces
    * each one with a WARN per function. */
  def applyFunctionExtensions(f: SparkSessionExtensions => Unit, spark: SparkSession): Unit = {
    val ext = new SparkSessionExtensions
    f(ext)
    val injected = ext.registerFunctions(new SimpleFunctionRegistry).listFunction()
    val registry = spark.sessionState.functionRegistry
    if (!injected.forall(registry.functionExists)) ext.registerFunctions(registry)
  }

  /** Frees RDD `id`'s blocks, non-blocking, through the call
    * `RDD.unpersist` makes after its WARN that a local checkpoint
    * "cannot be recomputed". Skipping `RDD.unpersist`'s reset of the
    * storage level to NONE is harmless for a freed checkpoint: either way
    * a later read finds no blocks and fails in the checkpoint RDD, and no
    * live plan reads a freed round. A second call removes nothing. */
  def freeRdd(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = false)

  /** The cache entry `df`'s plan matches. */
  def cacheEntry(df: DataFrame): Option[CachedData] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  /** An entry's buffer builder: the object every plan that reads the
    * entry holds. */
  def builder(entry: CachedData): AnyRef = entry.cachedRepresentation.cacheBuilder

  /** Whether every partition of an entry's buffers is written. */
  def loaded(entry: CachedData): Boolean =
    entry.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded

  /** Unpersists a [[builder]]'s buffers, non-blocking; a plan that reads
    * them again rebuilds them. */
  def clearBuffers(builder: AnyRef): Unit =
    builder.asInstanceOf[CachedRDDBuilder].clearCache(blocking = false)
}
