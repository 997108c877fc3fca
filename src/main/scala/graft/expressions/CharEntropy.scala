package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-value Shannon character entropy in bits (-Σ p·log2 p) —
  * the DSL's `shannonEntropy()` backend.
  *
  * Semantically identical to the higher-order-function formulation it
  * replaced (filter(split(s,''), …) + nested size(filter(…)) counting +
  * aggregate over array_distinct): per-character terms are QUANTIZED to
  * round(((p·ln p)/ln 2)·2^40) — the exact Spark `round()` half-up via
  * BigDecimal — and summed as exact integers, so the result is
  * independent of character-visit order and a SQL oracle that
  * unnests/groups the characters in any order replays it bit-for-bit
  * (the kmeansRefine discipline). Characters are Unicode code points
  * (Spark's split-on-empty-regex convention; the fixture is ASCII,
  * where code points, UTF-16 units, and DuckDB's string_split('')
  * elements all coincide).
  *
  * The difference from the HOF is cost: the HOF re-scans the char array
  * once per DISTINCT character through interpreted lambda dispatch
  * (O(d·n) per row, the recurring top-of-profile shape); this is one
  * counting pass plus one pass over the distinct set, called as a
  * static method from inside whole-stage codegen.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_entropy"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_entropy expects string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.CharEntropy.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropy extends NativeFunction("graft_entropy", classOf[CharEntropy]) {
  private val Q = 1099511627776L  // 2^40

  /** One counting pass over code points, one quantized-term pass over
    * the distinct set. Static so generated code calls it directly.
    */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Integer]()
    var i = 0
    var t = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      t += 1
      counts.merge(cp, 1, (a, b) => a + b)
    }
    if (t == 0) return -0.0d
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / t
      // ((p·ln p)/ln 2)·2^40, rounded EXACTLY as Spark's round():
      // BigDecimal half-up on the shortest decimal representation
      val term = p * math.log(p) / math.log(2.0d) * Q
      sum += BigDecimal(term)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
    }
    -(sum.toDouble / Q.toDouble)
  }

  def build(children: Seq[Expression]): Expression =
    CharEntropy(children.head)
}
