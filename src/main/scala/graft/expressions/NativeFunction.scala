package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The catalog entry of one native SQL function: its name, its
  * `ExpressionInfo` and the builder that turns call arguments into the
  * expression. The companion object of every native expression extends
  * it, so the per-session [[register]] and the [[GraftExtensions]]
  * injection install the same entry.
  */
abstract class NativeFunction(functionName: String,
                              expressionClass: Class[_ <: Expression]) {

  /** Builds the expression of one call; misuse raises here, on both
    * registration paths alike.
    */
  def build(children: Seq[Expression]): Expression

  final def entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(functionName),
      new ExpressionInfo(expressionClass.getName, functionName), build _)

  /** Idempotent: installs the function in `spark`'s registry, after which
    * `call_function(functionName, …)` and SQL resolve it in that session.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val (ident, info, builder) = entry
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
  }
}
