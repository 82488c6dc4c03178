package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic Column <-> catalyst Expression converters, which are
  * `private[sql]` in Spark 4 (the Connect-era Column wraps a ColumnNode, not
  * an Expression). Standard extension-library technique: this object lives in
  * the spark.sql package purely to re-export the two converters for
  * graft.plans custom expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
