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
  * measured 47 s warm at 10× data on that path).
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
    val r = new Parser(s.toString, key).parse()
    if (r == null) null else UTF8String.fromString(r)
  }

  /** The JsonLongField grammar with string-form capture. Kept separate
    * rather than generalized with callbacks: the two value-coercion
    * rules differ (long: last SUCCESSFUL wins; string: conversion never
    * fails) and each parser is small enough that sharing would cost
    * more indirection than it saves.
    */
  private final class Parser(s: String, key: String) {
    private var i = 0
    private val n = s.length
    // Jackson (2.15+, as shipped with Spark 4) bounds nesting at 1000
    // and surfaces deeper documents as malformed -> NULL; an unbounded
    // recursive descent would instead die with StackOverflowError
    private var depth = 0
    private var hit: String = null

    def parse(): String = {
      try {
        ws()
        if (i >= n || s.charAt(i) != '{') return null
        parseObject(top = true)
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
        if (top && k == key) hit = parseTopValue()
        else parseValue()
        ws()
        peek() match {
          case ',' => i += 1
          case '}' => i += 1; depth -= 1; return
          case _ => throw Bad
        }
      }
    }

    /** String form of the value in the target position; null for JSON
      * null (the field is NULL, matching from_json).
      */
    private def parseTopValue(): String = peek() match {
      case '"' | '\'' => parseString()
      case 't' => literal("true"); "true"
      case 'f' => literal("false"); "false"
      case 'n' => literal("null"); null
      case c if c == '-' || (c >= '0' && c <= '9') =>
        val start = i
        val isInt = parseNumber()
        val raw = s.substring(start, i)
        // integral numbers keep their literal text; floats normalize
        // through double (Jackson parses VALUE_NUMBER_FLOAT to double
        // and re-renders it: "-1.5e3" -> "-1500.0") — measured
        if (isInt) raw else java.lang.Double.toString(java.lang.Double.parseDouble(raw))
      case '{' | '[' =>
        // raw source span, trimmed (see class doc)
        val start = i
        parseValue()
        s.substring(start, i).trim
      case _ => throw Bad
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
              if (!hex.forall(h => (h >= '0' && h <= '9') ||
                  (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F'))) throw Bad
              sb.append(Integer.parseInt(hex, 16).toChar)
              i += 4
            case _ => throw Bad
          }
          i += 1
        } else if (c < 0x20) throw Bad
        else { sb.append(c); i += 1 }
      }
      throw Bad
    }

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
    JsonStrField(children.head, children(1))
}
