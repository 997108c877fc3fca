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
  * strict little recursive-descent JSON VALIDATOR (the whole document
  * must parse, exactly like from_json) that captures the target
  * top-level field while scanning.
  *
  * Tolerant semantics (differentially tested against
  * `from_json(s, 'k BIGINT').k` — every behavior below except the one
  * noted widening was MEASURED on Spark 4, not assumed): malformed
  * document → NULL; non-object root (array/scalar) → NULL; key absent
  * or JSON `null` value → NULL; duplicate top-level key → the LAST
  * SUCCESSFUL occurrence wins (PERMISSIVE keeps the partial row on a
  * conversion failure, so a failed occurrence leaves the previous
  * value; an explicit JSON null does overwrite); nested occurrences
  * of the key (inside
  * sub-objects, arrays, or string values) never match. JSON
  * strictness matches Jackson defaults: no leading zeros,
  * ASCII-hex-only escape sequences validated everywhere, content
  * AFTER the root tolerated (Jackson never reads past the root
  * value).
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
    p.parse()
  }

  /** Minimal strict JSON parser. One instance per evaluation; the
    * documents this serves are tiny (an audit record's props), so
    * object cost is noise next to the codegen win. State: `hit` — the
    * last top-level match for `key`, invalidated by any later
    * non-integral duplicate.
    */
  private final class Parser(s: String, key: String) {
    private var i = 0
    private val n = s.length
    // Jackson (2.15+, as shipped with Spark 4) bounds nesting at 1000
    // and surfaces deeper documents as malformed -> NULL; an unbounded
    // recursive descent would instead die with StackOverflowError
    private var depth = 0
    private var hit: java.lang.Long = null

    def parse(): java.lang.Long = {
      try {
        ws()
        // object roots only: from_json with a struct schema yields NULL
        // for array/scalar roots (measured on Spark 4 — no
        // array-as-rows in the expression context), as does the
        // oracle's ->> extraction
        if (i >= n || s.charAt(i) != '{') return null
        parseObject(top = true)
        // trailing content after the root value is TOLERATED — Jackson
        // never reads past the root, so from_json accepts it too
        hit
      } catch { case _: BadJson => null }
    }

    private def parseObject(top: Boolean): Unit = {
      depth += 1
      if (depth > 1000) throw Bad
      expect('{'); ws()
      if (peek() == '}') { i += 1; depth -= 1; return }
      while (true) {
        ws()
        val k = parseString(); ws(); expect(':'); ws()
        if (top && k == key) {
          // the LAST SUCCESSFUL occurrence wins — measured from_json
          // behavior ({"k": 1.5, "k": 2} → 2 AND {"k": 2, "k": 1.5} →
          // 2): PERMISSIVE keeps the partial row on a conversion
          // failure, so a failed occurrence leaves the previous value;
          // an explicit JSON null DOES overwrite (Some(null))
          parseTopValue().foreach(v => hit = v)
        } else parseValue()
        ws()
        peek() match {
          case ',' => i += 1
          case '}' => i += 1; depth -= 1; return
          case _ => throw Bad
        }
      }
    }

    /** Value in the target position: parse as any JSON value; Some for
      * a coercible long — a plain integral number in range, a JSON
      * null (Some(null)), or (the get_json_object+cast legacy this
      * replaced) a string whose trimmed content is an optionally-signed
      * decimal integer — None for anything else.
      */
    private def parseTopValue(): Option[java.lang.Long] = {
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

    private def parseValue(): Unit = peek() match {
      case '{' => parseObject(top = false)
      case '[' => parseArray()
      case '"' | '\'' => parseString(); ()
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case c if c == '-' || (c >= '0' && c <= '9') => parseNumber(); ()
      case _ => throw Bad
    }

    private def parseArray(): Unit = {
      depth += 1
      if (depth > 1000) throw Bad
      expect('['); ws()
      if (peek() == ']') { i += 1; depth -= 1; return }
      while (true) {
        ws(); parseValue(); ws()
        peek() match {
          case ',' => i += 1
          case ']' => i += 1; depth -= 1; return
          case _ => throw Bad
        }
      }
    }

    /** Accepts both quote characters — Spark's JSON options default
      * allowSingleQuotes=true, and the differential specs pin the
      * behavior against from_json.
      */
    private def parseString(): String = {
      val q = peek()
      if (q != '"' && q != '\'') throw Bad
      i += 1
      val sb = new java.lang.StringBuilder()
      while (true) {
        if (i >= n) throw Bad
        val c = s.charAt(i)
        if (c == q) { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          if (i >= n) throw Bad
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\'' => sb.append('\'')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 >= n) throw Bad
              val hex = s.substring(i + 1, i + 5)
              // ASCII hex only — Character.digit also accepts Unicode
              // digit code points (Arabic-Indic, fullwidth) that
              // Jackson rejects
              if (!hex.forall(h => (h >= '0' && h <= '9') ||
                  (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F'))) throw Bad
              sb.append(Integer.parseInt(hex, 16).toChar)
              i += 4
            case _ => throw Bad
          }
          i += 1
        } else if (c < 0x20) throw Bad  // raw control char
        else { sb.append(c); i += 1 }
      }
      throw Bad
    }

    /** Returns isIntegral. Strict grammar: -?(0|[1-9][0-9]*)
      * with optional fraction/exponent (which make it non-integral).
      */
    private def parseNumber(): Boolean = {
      if (peek() == '-') i += 1
      if (i >= n) throw Bad
      if (s.charAt(i) == '0') i += 1
      else if (s.charAt(i) >= '1' && s.charAt(i) <= '9') {
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      } else throw Bad
      var isInt = true
      if (i < n && s.charAt(i) == '.') {
        isInt = false; i += 1
        if (i >= n || s.charAt(i) < '0' || s.charAt(i) > '9') throw Bad
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      }
      if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        isInt = false; i += 1
        if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        if (i >= n || s.charAt(i) < '0' || s.charAt(i) > '9') throw Bad
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      }
      isInt
    }

    private def literal(lit: String): Unit = {
      if (i + lit.length > n || s.substring(i, i + lit.length) != lit) throw Bad
      i += lit.length
    }

    private def ws(): Unit =
      while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
        s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1

    private def peek(): Char = if (i >= n) throw Bad else s.charAt(i)

    private def expect(c: Char): Unit = {
      if (i >= n || s.charAt(i) != c) throw Bad
      i += 1
    }
  }

  private final class BadJson extends Exception(null, null, false, false)
  private val Bad = new BadJson

  def build(children: Seq[Expression]): Expression =
    JsonLongField(children.head, children(1))
}
