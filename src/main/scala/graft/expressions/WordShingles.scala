package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word k-gram shingles: all space-joined windows of
  * `k` consecutive tokens; an array shorter than `k` yields its single
  * whole-array join (so every doc has at least one shingle and set
  * semantics downstream stay total).
  *
  * Semantically identical to the higher-order-function formulation
  * `when(size(t) >= k, transform(sequence(1, size(t)-k+1),
  * i -> concat_ws(" ", slice(t, i, k)))).otherwise(array(concat_ws(" ", t)))`
  * ([[graft.functions.Text.shingles]]'s declarative body — joins via the
  * same null-skipping `UTF8String.concatWs` the ConcatWs expression
  * calls, so NULL elements behave exactly alike). The difference is
  * cost: the HOF evaluates interpreted — per-element lambda dispatch,
  * a materialized index array, and a slice copy per shingle — which
  * put the 4-gram decontamination scans at the top of the clean bench
  * profile; this compiles to one tight loop inside whole-stage codegen
  * allocating only the window buffer and the output array.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"graft_shingles: k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects array<string>, got ${other.simpleString}")
  }

  private val sep = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = if (n >= k) n - k + 1 else 1
    val w = if (n >= k) k else n
    val out = new Array[Any](m)
    val buf = new Array[UTF8String](w)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < w) {
        buf(j) = if (a.isNullAt(i + j)) null else a.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(sep, buf: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val buf = ctx.freshName("buf")
      val sepRef = ctx.addReferenceObj("sep", sep, classOf[UTF8String].getName)
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $c.numElements();
         |int $m = $n >= $k ? $n - $k + 1 : 1;
         |int $w = $n >= $k ? $k : $n;
         |$utf8[] $out = new $utf8[$m];
         |$utf8[] $buf = new $utf8[$w];
         |for (int $i = 0; $i < $m; $i++) {
         |  for (int $j = 0; $j < $w; $j++) {
         |    $buf[$j] = $c.isNullAt($i + $j) ? null : $c.getUTF8String($i + $j);
         |  }
         |  $out[$i] = $utf8.concatWs($sepRef, $buf);
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles extends NativeFunction("graft_shingles", classOf[WordShingles]) {
  /** Builds `graft_shingles(toks, k)`: the width
    * must be a foldable integer literal (it shapes the generated loop).
    */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"graft_shingles(toks, k) takes 2 arguments, got ${children.size}")
    val k = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_shingles: k must be an integer literal, got $other")
    }
    WordShingles(children.head, k)
  }
}
