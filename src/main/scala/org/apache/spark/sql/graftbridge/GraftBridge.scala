package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression converters. Spark 4 moved these behind
  * `private[sql] org.apache.spark.sql.classic.ExpressionUtils`; this
  * object lives under `org.apache.spark.sql` solely to re-expose them to
  * the graft custom-expression layer (the standard pattern for libraries
  * that ship native Catalyst expressions). */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a session-extension installer to an existing session's function
    * registry (`spark.sql.extensions` is a static conf, unusable once a
    * context exists): how the SQL-surface queries and the tests install
    * `GraftExtensions`' functions. */
  def applyFunctionExtensions(
      f: org.apache.spark.sql.SparkSessionExtensions => Unit,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }
}
