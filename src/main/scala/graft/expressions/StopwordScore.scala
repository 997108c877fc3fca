package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row stopword scoring for the language-ID heuristic —
  * ONE counting pass over the token array against ALL five per-language
  * stopword sets at once (a token→language-bitmask hash lookup), where
  * the HOF formulation ([[graft.functions.Text.stopwordHits]]) re-scans
  * the array once per language through interpreted lambda dispatch
  * (5·n filter evaluations per row, the recurring top-of-profile shape
  * CharEntropy/WordShingles already displaced elsewhere).
  *
  * Output: array<long> of total (non-distinct) hit counts in
  * [[graft.functions.Text.stopwordSets]] order — exactly
  * `size(filter(toks, _.isInCollection(sw)))` per language. NULL array
  * → NULL (matching `size(filter(NULL, …))` under Spark 4's default
  * sizeOfNull); NULL elements never match (isInCollection is
  * null-safe-false in a filter).
  *
  * At 100 TB this runs inside whole-stage codegen over the scan —
  * per-row cost is |tokens| hash probes against a static map, zero
  * allocation beyond the 5-long result.
  */
case class StopwordCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_stopword_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_stopword_counts expects array<string>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    StopwordCounts.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.StopwordCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StopwordCounts extends NativeFunction("graft_stopword_counts", classOf[StopwordCounts]) {
  /** The language order of the output array — pinned to
    * [[graft.functions.Text.stopwordSets]], the single source of truth
    * both the HOF form and the DuckDB oracles read.
    */
  val langs: Array[UTF8String] =
    graft.functions.Text.stopwordSets.map(p => UTF8String.fromString(p._1)).toArray

  private val nLangs = langs.length

  /** token → bitmask of the languages whose stopword list contains it
    * (sets overlap: "de", "la"). UTF8String keys compare byte-wise, so
    * lookups take tokens straight from the row buffer — no toString.
    */
  private val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    graft.functions.Text.stopwordSets.zipWithIndex.foreach {
      case ((_, words), i) =>
        words.foreach { w =>
          val k = UTF8String.fromString(w)
          m.merge(k, Integer.valueOf(1 << i), (a, b) => Integer.valueOf(a | b))
        }
    }
    m
  }

  /** One pass: per token, one hash probe; on a hit, bump every language
    * whose bit is set. Static so generated code calls it directly.
    */
  def compute(arr: ArrayData): ArrayData = {
    val counts = new Array[Long](nLangs)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = masks.get(arr.getUTF8String(i))
        if (m != null) {
          var mask = m.intValue()
          var j = 0
          while (mask != 0) {
            if ((mask & 1) == 1) counts(j) += 1
            mask >>>= 1
            j += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  def build(children: Seq[Expression]): Expression =
    StopwordCounts(children.head)
}

/** Argmax over a [[StopwordCounts]] array with the EXACT tie semantics
  * of the [[graft.functions.Text.langId]] fold it replaces: the first
  * language (in stopwordSets order) whose count is strictly greater
  * than every earlier count wins — i.e. first-wins on ties. A 5-element
  * scan; the heavy lifting is the counts pass it consumes.
  */
case class LangBest(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_best"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lang_best expects array<long>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    LangBest.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.expressions.LangBest.compute($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangBest extends NativeFunction("graft_lang_best", classOf[LangBest]) {
  /** Designed for [[StopwordCounts]] output (a dense non-null 5-array),
    * but the function is callable on its own, so arbitrary arrays can
    * reach it: an empty array or one with NULL elements yields NULL
    * rather than an index crash or a garbage read.
    */
  def compute(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    if (n == 0 || n > StopwordCounts.langs.length) return null
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    var best = 0
    var bestScore = arr.getLong(0)
    i = 1
    while (i < n) {
      val v = arr.getLong(i)
      if (v > bestScore) { best = i; bestScore = v }
      i += 1
    }
    StopwordCounts.langs(best)
  }

  def build(children: Seq[Expression]): Expression =
    LangBest(children.head)
}
