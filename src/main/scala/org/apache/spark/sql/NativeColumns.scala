package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark's Column <-> Expression conversion, which is `private[sql]`;
  * `graft.expressions.NativeFunction.call` builds its Columns through it.
  */
object NativeColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Converts now, so a builder sees a `lit` argument as a `Literal`
    * (`ExpressionUtils.expression` defers conversion to analysis). */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
