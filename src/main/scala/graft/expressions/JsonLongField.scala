package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tolerant top-level JSON long-field extraction as a codegen'd native
  * expression. It backs the `ConnectorQueries` batch queries over the
  * events table's `props` (e_parse, e_kv_flatten); the streaming
  * connector's R3 envelope parse is [[FalconEnvelope]].
  *
  * Both of Spark's JSON extractors (JsonToStructs behind from_json,
  * GetJsonObject) are CodegenFallback: one appearance breaks the whole
  * projection out of whole-stage codegen and pays interpreted dispatch
  * plus Jackson per row — ~8 µs/row on 9-char documents, the dominant
  * term of those queries' per-row cost. This expression is a
  * strict JSON validator (the whole document must parse, exactly like
  * from_json) that captures the target top-level field while scanning.
  *
  * Tolerant semantics (differentially tested against
  * `from_json(s, 'k BIGINT').k` — every behavior below except the one
  * noted widening was MEASURED on Spark 4, not assumed): malformed
  * document → NULL; non-object root (array/scalar) → NULL; key absent
  * or JSON `null` value → NULL; duplicate top-level key → the LAST
  * SUCCESSFUL occurrence wins (PERMISSIVE keeps the partial row on a
  * conversion failure, so a failed occurrence leaves the previous
  * value; an explicit JSON null does overwrite); nested occurrences
  * of the key (inside sub-objects, arrays, or string values) never
  * match. The grammar and its strictness are [[JsonFieldScanner]]'s.
  *
  * ONE deliberate widening vs from_json: a STRING value whose trimmed
  * content is an optionally-signed decimal integer coerces to its long
  * (`{"k": "12"}` → 12) — the get_json_object + CAST semantics this
  * expression replaced in eParse, and what the committed DuckDB oracle
  * (`CAST(… AS BIGINT)`) computes; from_json nulls string-typed
  * values.
  *
  * `key` must be a non-null foldable string literal (it parameterizes
  * the scan, not the data).
  */
case class JsonLongField(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_json_long expects (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_json_long requires a literal key")
    else if (right.eval(null) == null)
      // fail at ANALYSIS, not with an NPE resolving keyStr at codegen
      TypeCheckResult.TypeCheckFailure(
        "graft_json_long requires a non-null literal key")
    else TypeCheckResult.TypeCheckSuccess

  // the key is plan-time constant; resolve it once
  @transient private lazy val keyStr: String =
    right.eval(null).asInstanceOf[UTF8String].toString

  override protected def nullSafeEval(json: Any, k: Any): Any =
    JsonLongField.compute(json.asInstanceOf[UTF8String], keyStr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonKey", keyStr, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (json, _) => {
      val tmp = ctx.freshName("jsonLong")
      s"""
         |java.lang.Long $tmp =
         |  graft.expressions.JsonLongField.compute($json, $keyRef);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JsonLongField extends NativeFunction("graft_json_long", classOf[JsonLongField]) {
  /** Validate the whole document; return the last top-level `key` value
    * iff it is an integral in-range JSON number, else null (boxed so
    * generated code distinguishes null-field from a parsed value).
    */
  def compute(s: UTF8String, key: String): java.lang.Long = {
    val p = new Parser(s.toString, key)
    if (p.scan()) p.hit else null
  }

  /** `hit` is the last top-level match for `key` that coerced. */
  private final class Parser(doc: String, key: String) extends JsonFieldScanner(doc, key) {
    var hit: java.lang.Long = null

    // the LAST SUCCESSFUL occurrence wins — measured from_json behavior
    // ({"k": 1.5, "k": 2} → 2 AND {"k": 2, "k": 1.5} → 2): PERMISSIVE
    // keeps the partial row on a conversion failure, so a failed
    // occurrence leaves the previous value; an explicit JSON null DOES
    // overwrite (Some(null))
    protected def topValue(): Unit = coerce().foreach(v => hit = v)

    /** Some for a coercible long — a plain integral number in range, a
      * JSON null (Some(null)), or (the get_json_object+cast legacy this
      * replaced) a string whose trimmed content is an optionally-signed
      * decimal integer — None for anything else.
      */
    private def coerce(): Option[java.lang.Long] = {
      if (peek() == '-' || (peek() >= '0' && peek() <= '9')) {
        val start = i
        val isInt = parseNumber()
        if (!isInt) return None
        try Some(java.lang.Long.valueOf(s.substring(start, i)))
        catch { case _: NumberFormatException => None }  // overflow
      } else if (peek() == '"' || peek() == '\'') {
        val str = parseString().trim
        val body = if (str.startsWith("-") || str.startsWith("+")) str.substring(1) else str
        if (body.nonEmpty && body.forall(c => c >= '0' && c <= '9')) {
          try Some(java.lang.Long.valueOf(str))
          catch { case _: NumberFormatException => None }
        } else None
      } else if (peek() == 'n') {
        // a JSON null coerces to a NULL field WITHOUT corrupting the
        // record (a later duplicate may still win) — Jackson parity
        literal("null"); Some(null)
      } else { parseValue(); None }
    }
  }

  def build(children: Seq[Expression]): Expression =
    JsonLongField(children.head, children(1))
}
