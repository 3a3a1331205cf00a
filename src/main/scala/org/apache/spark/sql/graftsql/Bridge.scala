package org.apache.spark.sql
package graftsql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Column↔Expression converters — the
  * standard pattern for Spark extension libraries (Spark 4 hides the
  * classic Column internals behind the sql package boundary). Nothing else
  * in graft lives outside the `graft` namespace. */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree into a catalyst Expression tree
    * (`ColumnNodeToExpressionConverter`). `toExpression` wraps lazily in a
    * `ColumnNodeExpression`, which is fine inside DataFrame analysis but
    * UNEVALUABLE when embedded in a SQL function's expression tree — the
    * analyzer never descends into the wrapper. SQL function builders that
    * compose Column-API helpers must use this. */
  def toAnalyzableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `s` with every field and nested element nullable — the schema a
    * file source reads a written schema as (`asNullable` is
    * `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Block until the listener bus has delivered every queued event —
    * observability hook for SparkListener-based metrics collection
    * (`listenerBus` is `private[spark]`; without the drain, shuffle
    * metrics read racy partial sums). */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a session-scoped SQL function backed by an Expression
    * builder (`sessionState.functionRegistry` is `private[sql]`; this is
    * the session-level counterpart of `SparkSessionExtensions
    * .injectFunction`, for sessions built without the extensions conf). */
  def registerFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
