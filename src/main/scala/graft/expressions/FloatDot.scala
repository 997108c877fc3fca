package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over `array<float>` / `array<double>`
  * columns (each side independently — a float embedding can dot a
  * double trained centroid).
  *
  * Semantically identical to the higher-order-function formulation in
  * [[graft.functions.Vectors.dot]] — each element widened to double,
  * multiplied, accumulated LEFT-TO-RIGHT — so results are bit-identical
  * to the DuckDB oracle's explicit-SQL twin. The difference is cost: the
  * HOF version materializes an intermediate array per pair and walks it
  * with per-element virtual calls; this compiles to a tight primitive
  * loop inside whole-stage codegen. On the KNN cross joins (|probe|·|n|
  * pairs) that is the entire inner loop of the query.
  *
  * Nulls: null if either array is null (BinaryExpression default); null
  * ELEMENTS inside a vector are treated as 0.0 (embeddings are dense;
  * only malformed rows would hit this).
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> on each side, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val ld = isDouble(left); val rd = isDouble(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
        val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
        acc += xv * yv
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression) =
        if (isDouble(e)) s"$arr.getDouble($i)"
        else s"((double) $arr.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ${get(a, left)} * ${get(b, right)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatDot extends NativeFunction("graft_dot", classOf[FloatDot]) {
  def build(children: Seq[Expression]): Expression =
    FloatDot(children(0), children(1))
}
