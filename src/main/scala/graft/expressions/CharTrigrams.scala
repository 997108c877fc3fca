package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd character trigrams: all 3-char substrings of a
  * string at positions 1..len-2; a text shorter than 3 chars yields its
  * single partial gram (the whole text — [""] for the empty string).
  *
  * Semantically identical to the higher-order-function formulation
  * `transform(sequence(1, greatest(length(t)-2, 1)), i -> substring(t, i, 3))`
  * ([[graft.functions.Text.charTrigrams]]'s original body — substrings
  * via the same UTF8String.substringSQL the Substring expression calls,
  * so code-point semantics match exactly and the DuckDB `substr` oracle
  * twin still replays it). The difference is cost: the HOF evaluates
  * interpreted — per-element lambda dispatch plus a materialized index
  * array per row — which made trigram extraction the top line of the
  * clean bench profile; this compiles to one tight loop inside
  * whole-stage codegen and allocates only the output array.
  */
case class CharTrigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_trigrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_trigrams expects string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = math.max(s.numChars() - 2, 1)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = s.substringSQL(i + 1, 3); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val arr = ctx.freshName("arr")
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = java.lang.Math.max($c.numChars() - 2, 1);
         |$utf8[] $arr = new $utf8[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $arr[$i] = $c.substringSQL($i + 1, 3);
         |}
         |${ev.value} = new $gad($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharTrigrams extends NativeFunction("graft_char_trigrams", classOf[CharTrigrams]) {
  def build(children: Seq[Expression]): Expression =
    CharTrigrams(children.head)
}
