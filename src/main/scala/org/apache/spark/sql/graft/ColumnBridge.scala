package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into the sql-private Column <-> Expression converters, the
 * standard pattern for libraries shipping native Catalyst expressions
 * (Spark 4 wraps Column around a ColumnNode; `ExpressionUtils` in
 * `org.apache.spark.sql.classic` does the conversion but is
 * `private[sql]`). This package, with [[LocalProperties]], is the only
 * code outside the `graft` namespace.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on an ALREADY-BUILT session (the
   *  extension path in `GraftExtensions` only applies at session build). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)
}
