package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's `private[sql]` Column<->Expression converters so
  * graft's custom Catalyst expressions can be exposed as `Column`s.
  * Lives in the org.apache.spark.sql package solely for visibility —
  * the one sanctioned way to publish native expressions from a library.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted in full, nested Column-API nodes included — for a
    * SQL function builder, whose result goes to the analyzer without
    * passing through a Dataset's converter. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
