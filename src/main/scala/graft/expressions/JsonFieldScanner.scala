package graft.expressions

/** The one strict JSON grammar behind [[JsonLongField]] and
  * [[JsonStrField]]: a recursive-descent VALIDATOR (the whole document
  * must parse, exactly like from_json) that hands each top-level
  * occurrence of `key` to the expression's [[topValue]] rule. Occurrences
  * nested in sub-objects, arrays or string values never reach it.
  *
  * Strictness matches Jackson defaults as shipped with Spark 4: no
  * leading zeros, both quote characters (Spark's JSON options default
  * allowSingleQuotes=true), ASCII-hex-only unicode escapes validated
  * everywhere, raw control characters rejected, and content AFTER the
  * root value tolerated (Jackson never reads past it). One instance per
  * evaluated row; the documents are tiny (an audit record's props), so
  * object cost is noise next to the codegen win.
  */
private[expressions] abstract class JsonFieldScanner(protected val s: String,
                                                     key: String) {
  import JsonFieldScanner.Bad

  protected var i = 0
  private val n = s.length
  // Jackson (2.15+, as shipped with Spark 4) bounds nesting at 1000 and
  // surfaces deeper documents as malformed -> NULL; an unbounded
  // recursive descent would instead die with StackOverflowError
  private var depth = 0

  /** Consume the value at the cursor, a top-level `key` occurrence, and
    * record what the expression keeps of it.
    */
  protected def topValue(): Unit

  /** Validate the document, calling [[topValue]] at each top-level `key`
    * occurrence in order. False for a malformed document or a non-object
    * root: from_json with a struct schema yields NULL for array and
    * scalar roots (measured on Spark 4), as does the oracle's `->>`.
    */
  final def scan(): Boolean =
    try {
      ws()
      if (i >= n || s.charAt(i) != '{') false
      else { parseObject(top = true); true }
    } catch { case _: JsonFieldScanner.BadJson => false }

  private def parseObject(top: Boolean): Unit = {
    depth += 1
    if (depth > 1000) throw Bad
    expect('{'); ws()
    if (peek() == '}') { i += 1; depth -= 1; return }
    while (true) {
      ws()
      val k = parseString(); ws(); expect(':'); ws()
      if (top && k == key) topValue() else parseValue()
      ws()
      peek() match {
        case ',' => i += 1
        case '}' => i += 1; depth -= 1; return
        case _ => throw Bad
      }
    }
  }

  protected final def parseValue(): Unit = peek() match {
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

  /** A string in either quote character, decoded. */
  protected final def parseString(): String = {
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
            // digit code points (Arabic-Indic, fullwidth) that Jackson
            // rejects
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

  /** Returns isIntegral. Strict grammar: -?(0|[1-9][0-9]*) with an
    * optional fraction/exponent (which make it non-integral).
    */
  protected final def parseNumber(): Boolean = {
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

  protected final def literal(lit: String): Unit = {
    if (i + lit.length > n || s.substring(i, i + lit.length) != lit) throw Bad
    i += lit.length
  }

  private def ws(): Unit =
    while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
      s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1

  protected final def peek(): Char = if (i >= n) throw Bad else s.charAt(i)

  private def expect(c: Char): Unit = {
    if (i >= n || s.charAt(i) != c) throw Bad
    i += 1
  }
}

private[expressions] object JsonFieldScanner {
  private final class BadJson extends Exception(null, null, false, false)
  private val Bad = new BadJson
}
