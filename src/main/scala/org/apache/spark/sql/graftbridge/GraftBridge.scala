package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

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

  /** `ckpt`, a checkpointed frame, over a copy of its [[LogicalRDD]] leaf
    * that reports no output partitioning or ordering; the leaf keeps its
    * RDD and its statistics. `RDDScanExec` canonicalizes its output by
    * position but leaves the attribute ids in its partitioning and
    * ordering as they are, so the two copies of one leaf that a
    * self-join makes never canonicalize alike, and Spark's exchange reuse
    * never matches an exchange over one copy with the same exchange over
    * the other. */
  def unpartitioned(ckpt: DataFrame): DataFrame = ckpt.queryExecution.logical match {
    case lr: LogicalRDD =>
      val leaf = lr.makeCopy(Array(lr.output, lr.rdd, UnknownPartitioning(0), Nil,
        Boolean.box(lr.isStreaming), lr.stream))
      Dataset.ofRows(ckpt.sparkSession.asInstanceOf[ClassicSession], leaf)
  }
}
