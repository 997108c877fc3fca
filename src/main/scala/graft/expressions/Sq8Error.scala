package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused scalar-quantization reconstruction error —
  * `graft_sq8_err(embedding, mn, mx)`: per dimension, quantize the
  * float component to a 0..255 code against the corpus [mn, mx] range,
  * dequantize, and sum the squared error in INDEX ORDER (one double
  * accumulator, the dotSql/kmeans discipline — a SQL oracle replays it
  * bit-for-bit).
  *
  * Semantically identical to the declarative
  * `aggregate(transform(sequence(...), i -> ...))` chain it replaces
  * (differentially tested): `q = round(((x−mn)/span)·255)` with
  * EXACTLY Spark's round() — BigDecimal HALF_UP on the shortest
  * decimal representation. (`floor(v + 0.5)` is NOT equivalent: for
  * v = 0.49999999999999994 the `+0.5` addition itself rounds the sum
  * up to 1.0, flipping the code by one where Spark and DuckDB both
  * round to 0 — the one-ulp cross-engine hash hazard Det.scala
  * exists to avoid.) `deq = mn + (q·span)/255`; a zero span
  * quantizes to code 0 (deq = mn, zero error). The HOF form pays
  * interpreted lambda dispatch per dimension per row — corpus-linear
  * work at 100 TB; this is one codegen'd loop with one small
  * BigDecimal per dimension (the CharEntropy discipline).
  */
case class Sq8Error(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq8_err"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_sq8_err expects (array<float>, array<double>, array<double>), got $other")
    }

  override protected def nullSafeEval(emb: Any, mn: Any, mx: Any): Any =
    Sq8Error.compute(emb.asInstanceOf[ArrayData], mn.asInstanceOf[ArrayData],
      mx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, a, b) =>
      s"${ev.value} = graft.expressions.Sq8Error.compute($e, $a, $b);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Sq8Error extends NativeFunction("graft_sq8_err", classOf[Sq8Error]) {
  def compute(emb: ArrayData, mn: ArrayData, mx: ArrayData): Double = {
    val n = emb.numElements()
    // a scale table from a different corpus (or a truncated one) is a
    // caller bug — fail loudly instead of silently scoring a prefix
    if (mn.numElements() != n || mx.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_sq8_err: scale arrays must match the embedding dimension " +
          s"(embedding=$n, mn=${mn.numElements()}, mx=${mx.numElements()})")
    var sum = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val lo = mn.getDouble(i)
      val hi = mx.getDouble(i)
      val span = hi - lo
      // clamp to the code range like a real SQ8 encoder: a component
      // outside [mn, mx] (scales trained on an earlier corpus snapshot,
      // the realistic serving case) saturates instead of producing an
      // out-of-range code and a nonsense error term
      val q =
        if (span == 0) 0.0
        else math.max(0.0, math.min(255.0,
          BigDecimal(((x - lo) / span) * 255)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val deq = lo + (q * span) / 255.0
      val t = x - deq
      sum += t * t
      i += 1
    }
    sum
  }

  def build(children: Seq[Expression]): Expression =
    Sq8Error(children.head, children(1), children(2))
}
