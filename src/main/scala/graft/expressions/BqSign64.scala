package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Binary quantization signature — `graft_bq_sign(embedding)`: the
  * sign bits of the first (up to) 64 float components packed into one
  * signed long, dimension i at bit 63−i (MSB-first, the
  * [[SimHash64]] layout). The 1-bit-per-dimension compression of the
  * modern BQ serving stack (32× smaller than float32): Hamming
  * distance between signatures — `bit_count(a ^ b)`, pure codegen'd
  * integer work per pair — tracks the ANGLE between the full vectors
  * (each sign flip is one hyperquadrant boundary), so sign-bit search
  * is the cheapest ANN tier, re-ranked by exact scores when recall
  * matters (measured by x_bq_recall).
  *
  * Strictly positive components set the bit; zeros and NaN leave it
  * clear. NaN needs care cross-engine: JVM `NaN > 0f` is false, but
  * DuckDB's comparison TOTAL-ORDERS NaN above every value (`'nan'::
  * FLOAT > 0` is TRUE), so the DuckDB oracle must guard with
  * `NOT isnan(x)` to replay this bit-for-bit. One codegen'd loop per
  * row, no per-dimension lambda dispatch (the Sq8Error discipline).
  */
case class BqSign64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bq_sign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bq_sign expects array<float>, got $other")
  }

  override protected def nullSafeEval(emb: Any): Any =
    BqSign64.compute(emb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e =>
      s"${ev.value} = graft.expressions.BqSign64.compute($e);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BqSign64 extends NativeFunction("graft_bq_sign", classOf[BqSign64]) {
  def compute(emb: ArrayData): Long = {
    val n = math.min(64, emb.numElements())
    var v = 0L
    var i = 0
    while (i < n) {
      if (emb.getFloat(i) > 0f) v |= 1L << (63 - i)
      i += 1
    }
    v
  }

  def build(children: Seq[Expression]): Expression =
    BqSign64(children.head)
}
