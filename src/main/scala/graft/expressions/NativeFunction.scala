package graft.expressions

import org.apache.spark.sql.{Column, NativeColumns}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One native expression's SQL name, `ExpressionInfo` and builder. The
  * companion object of every native expression extends it. Code builds
  * a call as a Column with [[call]], which needs no session and looks
  * nothing up; SQL text resolves the name only in a session built with
  * [[GraftExtensions]], which injects [[entry]].
  */
abstract class NativeFunction(functionName: String,
                              expressionClass: Class[_ <: Expression]) {

  /** Builds the expression of one call; misuse raises here, for Column
    * and SQL calls alike.
    */
  def build(children: Seq[Expression]): Expression

  final def entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(functionName),
      new ExpressionInfo(expressionClass.getName, functionName), build _)

  /** The Column of one call over `args`, built by [[build]]. */
  final def call(args: Column*): Column =
    NativeColumns.column(build(args.map(NativeColumns.expression)))
}
