package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tolerant top-level JSON STRING-form field extraction — the generic
  * scalar sibling of [[JsonLongField]], backing the DSL `parseJson()`
  * verb and the typed-parser registry. Returns the field's string form
  * with `from_json(s, 'k STRING')` semantics (differentially tested):
  * a JSON string → its decoded content; an integral number → its
  * literal text, a float → re-rendered through double ("-1.5e3" →
  * "-1500.0", measured Jackson behavior); a
  * boolean → "true"/"false"; JSON null / key absent / malformed
  * document / non-object root → NULL; duplicate top-level key → the
  * last occurrence (string conversion never fails, so last simply
  * wins); nested occurrences never match. An object or array value
  * returns its RAW SOURCE SPAN trimmed (from_json re-serializes
  * compactly — identical for compact input, divergent only in interior
  * whitespace; the consumers extract scalar fields).
  *
  * Exists for the same reason as JsonLongField: both built-in JSON
  * extractors are CodegenFallback, and ONE interpreted expression drops
  * the whole projection out of whole-stage codegen (hq_parsejson
  * measured 47 s warm at 10× data on that path). The grammar is
  * [[JsonFieldScanner]]'s; only the top-level value rule is this one.
  */
case class JsonStrField(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_str"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_json_str expects (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("graft_json_str requires a literal key")
    else if (right.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(
        "graft_json_str requires a non-null literal key")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val keyStr: String =
    right.eval(null).asInstanceOf[UTF8String].toString

  override protected def nullSafeEval(json: Any, k: Any): Any =
    JsonStrField.compute(json.asInstanceOf[UTF8String], keyStr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonKey", keyStr, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (json, _) =>
      s"""
         |${ev.value} = graft.expressions.JsonStrField.compute($json, $keyRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JsonStrField extends NativeFunction("graft_json_str", classOf[JsonStrField]) {
  def compute(s: UTF8String, key: String): UTF8String = {
    val p = new Parser(s.toString, key)
    if (p.scan() && p.hit != null) UTF8String.fromString(p.hit) else null
  }

  /** `hit` is the string form of the last top-level match for `key`:
    * string conversion never fails, so the last occurrence simply wins.
    */
  private final class Parser(doc: String, key: String) extends JsonFieldScanner(doc, key) {
    var hit: String = null

    protected def topValue(): Unit = hit = peek() match {
      case '"' | '\'' => parseString()
      case 't' => literal("true"); "true"
      case 'f' => literal("false"); "false"
      // the field is NULL, matching from_json
      case 'n' => literal("null"); null
      case c if c == '-' || (c >= '0' && c <= '9') =>
        val start = i
        val isInt = parseNumber()
        val raw = s.substring(start, i)
        // integral numbers keep their literal text; floats normalize
        // through double (Jackson parses VALUE_NUMBER_FLOAT to double
        // and re-renders it: "-1.5e3" -> "-1500.0") — measured
        if (isInt) raw else java.lang.Double.toString(java.lang.Double.parseDouble(raw))
      case _ =>
        // an object or array: its raw source span, trimmed (see class doc)
        val start = i
        parseValue()
        s.substring(start, i).trim
    }
  }

  def build(children: Seq[Expression]): Expression =
    JsonStrField(children.head, children(1))
}
