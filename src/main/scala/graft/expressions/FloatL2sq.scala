package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd squared-L2 distance over `array<float|double>`
  * columns — the [[FloatDot]] discipline applied to the ANN tier's other
  * inner loop. Semantically identical to the higher-order-function
  * formulation it replaces ([[graft.operators.Pq.l2sq]]:
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _ + _)`):
  * each element widened to double, differenced, squared, accumulated
  * LEFT-TO-RIGHT — so results are bit-identical to the DuckDB oracle's
  * explicit-SQL twin. The HOF version materializes a zip_with array per
  * pair and walks it with per-element virtual calls; on the
  * |probes|·|corpus| recall joins that allocation is the whole inner
  * loop.
  *
  * Null semantics mirror zip_with+aggregate EXACTLY (not [[FloatDot]]'s
  * skip-null): a NULL input array, a length mismatch (zip_with pads the
  * shorter side with NULL), or any NULL element yields a NULL distance.
  * Embeddings are dense and fixed-width, so the path is unreachable in
  * practice — but a drop-in replacement must not change it.
  */
case class FloatL2sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2sq expects array<float|double> on each side, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  // NULL on length mismatch / null element, beyond the null-child default
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2sq"

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val ld = isDouble(left); val rd = isDouble(right)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      def get(arr: String, e: Expression) =
        if (isDouble(e)) s"$arr.getDouble($i)"
        else s"((double) $arr.getFloat($i))"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ${get(a, left)} - ${get(b, right)};
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatL2sq extends NativeFunction("graft_l2sq", classOf[FloatL2sq]) {
  def build(children: Seq[Expression]): Expression =
    FloatL2sq(children(0), children(1))
}
