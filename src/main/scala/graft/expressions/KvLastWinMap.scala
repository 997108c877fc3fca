package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused KV-array flatten with LAST-WIN duplicate keys — the connector's
  * R5 operator (reference app.py flattens the audit KeyValues list into a
  * dict, later entries overwriting earlier) as ONE native pass.
  *
  * Semantically identical to the declarative form it replaces
  * (`map_from_entries(transform(kv, e => struct(e("Key"),
  * e("ValueString"))))` under spark.sql.mapKeyDedupPolicy=LAST_WIN,
  * differentially tested): duplicate keys keep the FIRST occurrence's
  * position with the LAST occurrence's value (Spark's ArrayBasedMapBuilder
  * convention), NULL values are kept, a NULL entry or NULL key raises —
  * the same error class of behavior as map_from_entries. The connector
  * drops such lines before R5 ([[KvKeyed]]).
  *
  * The declarative chain pays an interpreted `transform` lambda per row
  * plus map_from_entries' builder; worse, extracting two keys from the
  * result either re-evaluates the whole chain per key (projection
  * collapse) or needs a Generate barrier per row to stop it. This
  * expression is cheap enough to evaluate once inside whole-stage
  * codegen — repeated extracts dedup via subexpression elimination, so
  * the Generate barrier goes away entirely.
  *
  * Input: array<struct<Key: string, ValueString: string>> (the audit KV
  * shape) — the two fields are taken POSITIONALLY (0 = key, 1 = value),
  * matching what the transform lambda selected.
  */
case class KvLastWinMap(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, StringType,
    valueContainsNull = true)
  override def prettyName: String = "graft_kv_lastwin"

  override def checkInputDataTypes(): TypeCheckResult =
    KvLastWinMap.checkKvArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    KvLastWinMap.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.KvLastWinMap.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KvLastWinMap extends NativeFunction("graft_kv_lastwin", classOf[KvLastWinMap]) {
  /** The audit KV shape, fields taken positionally: key, value. */
  private[expressions] def checkKvArray(function: String,
                                        dataType: DataType): TypeCheckResult = dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == StringType &&
           st(1).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$function expects array<struct<string,string>>, got ${other.simpleString}")
  }

  /** One pass; duplicate key → value overwritten in place (first
    * position, last value). KV arrays are small (an audit record's
    * fields), so the linear key scan beats hashing.
    */
  def compute(arr: ArrayData): MapData = {
    val n = arr.numElements()
    val keys = new Array[AnyRef](n)
    val values = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        throw new IllegalArgumentException(
          "graft_kv_lastwin: KV entry cannot be null")
      }
      val e = arr.getStruct(i, 2)
      if (e.isNullAt(0)) {
        throw new IllegalArgumentException(
          "graft_kv_lastwin: map key cannot be null")
      }
      // copy: the inputs may point into a reused row buffer, and the
      // built map can be consulted across expression evaluations
      val k = e.getUTF8String(0)
      val v = if (e.isNullAt(1)) null else e.getUTF8String(1).copy()
      var j = 0
      var found = -1
      while (found < 0 && j < m) {
        if (keys(j).asInstanceOf[UTF8String].equals(k)) found = j
        j += 1
      }
      if (found >= 0) values(found) = v
      else { keys(m) = k.copy(); values(m) = v; m += 1 }
      i += 1
    }
    val ks: Array[AnyRef] = if (m == n) keys else java.util.Arrays.copyOf(keys, m)
    val vs: Array[AnyRef] = if (m == n) values else java.util.Arrays.copyOf(values, m)
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  /** Whether [[compute]] accepts `arr`: no NULL entry and no NULL key. */
  def keyed(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i) || arr.getStruct(i, 2).isNullAt(0)) return false
      i += 1
    }
    true
  }

  def build(children: Seq[Expression]): Expression =
    KvLastWinMap(children.head)
}

/** The connector's R3 poison-line test: true when [[KvLastWinMap]] can
  * flatten the audit KV array, i.e. no entry and no entry's `Key` is
  * NULL; true for a NULL array too, which R5 maps to an empty map. A line
  * failing it is dropped as corrupt instead of failing its micro-batch,
  * which would replay the line forever. Native rather than an `exists`
  * lambda, which is `CodegenFallback` and would pull the connector's
  * parse stage out of whole-stage codegen.
  */
case class KvKeyed(child: Expression) extends UnaryExpression with Predicate {

  override def nullable: Boolean = false
  override def prettyName: String = "graft_kv_keyed"

  override def checkInputDataTypes(): TypeCheckResult =
    KvLastWinMap.checkKvArray(prettyName, child.dataType)

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    arr == null || KvLastWinMap.keyed(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} ||
        graft.expressions.KvLastWinMap.keyed(${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KvKeyed extends NativeFunction("graft_kv_keyed", classOf[KvKeyed]) {
  def build(children: Seq[Expression]): Expression = KvKeyed(children.head)
}
