package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The connector's R3 parse — `from_json(line, Connector.envelopeSchema)`
  * — as a codegen'd native expression.
  *
  * `JsonToStructs` is CodegenFallback: it keeps the parse Generate and
  * the payload projection out of whole-stage codegen, and per line it
  * pays a Reader-based Jackson parser, a buffer-recycler lookup and the
  * existence-default resolution of every struct level (about 10 µs of
  * the ~21 µs per-event chain on a 4-vCPU VM). This expression works in
  * two paths:
  *
  *  - FAST PATH ([[FalconEnvelope.fastPath]]): one strict pass over the
  *    line's UTF-8 bytes that builds the envelope row directly. It
  *    accepts only lines where the result is unambiguous: an object
  *    root; ASCII only; keys without escapes; each known key at most
  *    once per object; `Long` fields as JSON integers that fit a long
  *    (no fraction, exponent or leading zero); `String` fields as JSON
  *    strings whose escapes are the two-character ones (`\"` `\\` `\/`
  *    `\b` `\f` `\n` `\r` `\t`); `metadata`/`event`/KV entries as objects
  *    and `AuditKeyValues` as an array; `null` anywhere a value goes;
  *    unknown fields skipped with full JSON validation up to
  *    [[FalconEnvelope.MaxDepth]] levels; only whitespace after the root;
  *    lines and number tokens within Jackson's length limits.
  *  - FALLBACK: every other line — corrupt, `\u` escapes, non-ASCII,
  *    duplicate known keys, type mismatches, single quotes, trailing
  *    content, deep nesting, very long lines — goes to Spark's own
  *    `JsonToStructs` on the same string, so the result equals
  *    `from_json` on every line by construction. The fallback is a
  *    field, not a child: a CodegenFallback child would pull the stage
  *    back out of codegen.
  *
  * Field strings are slices of a per-row copy of the line, so they
  * never alias an input buffer the scan may reuse.
  *
  * Input: a STRING column. Output: `Connector.envelopeSchema` (all
  * fields nullable, as from_json makes them).
  */
case class FalconEnvelope(child: Expression) extends UnaryExpression {

  override def dataType: DataType = FalconEnvelope.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_falcon_envelope"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_falcon_envelope expects a string, got " + child.dataType.simpleString)

  // built once per deserialized copy, i.e. per task, and only on first use
  @transient private lazy val fallback: JsonToStructs =
    JsonToStructs(FalconEnvelope.schema, Map.empty, child,
      Some(SQLConf.get.sessionLocalTimeZone))

  /** Parse one line: the fast path, or from_json when it bails. */
  def parse(line: UTF8String): InternalRow = {
    val row = FalconEnvelope.fastPath(line)
    if (row != null) row
    else fallback.nullSafeEval(line).asInstanceOf[InternalRow]
  }

  override protected def nullSafeEval(input: Any): Any =
    parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("falconEnvelope", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $self.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FalconEnvelope extends NativeFunction("graft_falcon_envelope", classOf[FalconEnvelope]) {
  val schema = graft.operators.Connector.envelopeSchema

  /** Nesting bound of the fast path; deeper lines go to the fallback,
    * which applies Jackson's own bound.
    */
  val MaxDepth = 32

  /** Longer lines go to the fallback, so none of Jackson's length limits
    * (names 50 000 chars, strings 20 M) can decide a fast-path line.
    */
  val MaxLine = 50000

  /** Jackson rejects number tokens longer than this; the fast path
    * leaves them to the fallback.
    */
  val MaxNumber = 1000

  // The value a known key holds. The fast path builds a row only from
  // these; a field of any other type always goes to the fallback.
  private sealed trait Kind
  private case object Str extends Kind
  private case object Lng extends Kind
  private final case class Obj(level: Int) extends Kind
  private final case class ObjArray(level: Int) extends Kind
  private case object Other extends Kind

  // Every struct of the schema, root first (level 0), with its known
  // keys and their kinds, in field order: rows are filled positionally.
  private val levels: Array[StructType] = {
    def walk(st: StructType): Seq[StructType] = st +: st.fields.toSeq.flatMap(
      _.dataType match {
        case nested: StructType => walk(nested)
        case ArrayType(nested: StructType, _) => walk(nested)
        case _ => Nil
      })
    walk(schema).toArray
  }
  require(levels.forall(_.length <= 32), "one Int marks the keys seen per object")
  private val Names: Array[Array[Array[Byte]]] = levels.map(_.fieldNames.map(
    _.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
  private val Kinds: Array[Array[Kind]] = levels.map(_.fields.map(_.dataType match {
    case StringType => Str
    case LongType => Lng
    case nested: StructType => Obj(levels.indexWhere(_ eq nested))
    case ArrayType(nested: StructType, _) => ObjArray(levels.indexWhere(_ eq nested))
    case _ => Other
  }))

  /** The envelope row of `line`, or null when the line is outside the
    * fast-path grammar (the caller then runs from_json).
    */
  def fastPath(line: UTF8String): InternalRow = {
    val n = line.numBytes
    if (n > MaxLine) return null
    val b = new Array[Byte](n)
    Platform.copyMemory(line.getBaseObject, line.getBaseOffset, b,
      Platform.BYTE_ARRAY_OFFSET, n)
    try new FastPath(b).envelope()
    catch { case _: Bail => null }
  }

  private final class Bail extends Exception(null, null, false, false)
  private val bail = new Bail

  private final class FastPath(b: Array[Byte]) {
    private val n = b.length
    private var pos = 0

    def envelope(): InternalRow = {
      ws()
      val row = struct(0, 1)
      ws()
      if (pos != n) throw bail
      row
    }

    /** An object of a known level; unknown members are skipped. */
    private def struct(level: Int, depth: Int): InternalRow = {
      val names = Names(level)
      val row = new GenericInternalRow(names.length)
      expect('{'); ws()
      if (peek() == '}') { pos += 1; return row }
      var seen = 0
      while (true) {
        val k = key(names); ws(); expect(':'); ws()
        if (k < 0) skip(depth + 1)
        else {
          if ((seen & (1 << k)) != 0) throw bail  // duplicate known key
          seen |= 1 << k
          if (!isNull()) row.update(k, value(Kinds(level)(k), depth))
        }
        ws()
        peek() match {
          case ',' => pos += 1; ws()
          case '}' => pos += 1; return row
          case _ => throw bail
        }
      }
      row
    }

    private def value(kind: Kind, depth: Int): Any = kind match {
      case Str => string()
      case Lng => long()
      case Obj(level) => struct(level, depth + 1)
      case ObjArray(level) => structs(level, depth + 1)
      case Other => throw bail
    }

    /** An array of objects of a known level, or of nulls. */
    private def structs(level: Int, depth: Int): ArrayData = {
      expect('['); ws()
      var items = new Array[Any](8)
      var m = 0
      if (peek() == ']') pos += 1
      else {
        var open = true
        while (open) {
          val e = if (isNull()) null else struct(level, depth + 1)
          if (m == items.length) {
            val grown = new Array[Any](m * 2)
            System.arraycopy(items, 0, grown, 0, m)
            items = grown
          }
          items(m) = e; m += 1
          ws()
          peek() match {
            case ',' => pos += 1; ws()
            case ']' => pos += 1; open = false
            case _ => throw bail
          }
        }
      }
      new GenericArrayData(if (m == items.length) items else items.take(m))
    }

    /** Index of the key in `names`, or -1 for an unknown key. */
    private def key(names: Array[Array[Byte]]): Int = {
      expect('"')
      val start = pos
      while (peek() != '"') {
        // escapes could spell a known key; control and non-ASCII bytes
        // (negative as signed bytes) are the fallback's to judge
        if (b(pos) == '\\' || b(pos) < 0x20) throw bail
        pos += 1
      }
      val len = pos - start
      pos += 1
      var i = 0
      while (i < names.length) {
        val name = names(i)
        if (name.length == len &&
            java.util.Arrays.equals(name, 0, len, b, start, start + len)) return i
        i += 1
      }
      -1
    }

    /** A string field: a slice of the row copy, decoded only if escaped. */
    private def string(): UTF8String = {
      expect('"')
      val start = pos
      while (true) {
        val c = peek()
        if (c == '"') {
          pos += 1
          return UTF8String.fromBytes(b, start, pos - 1 - start)
        }
        if (c == '\\') return escaped(start)
        if (!plain(c)) throw bail
        pos += 1
      }
      null
    }

    private def escaped(start: Int): UTF8String = {
      val out = new Array[Byte](n - start)
      var m = pos - start
      System.arraycopy(b, start, out, 0, m)
      while (true) {
        val c = peek()
        if (c == '"') { pos += 1; return UTF8String.fromBytes(out, 0, m) }
        if (c == '\\') {
          pos += 1
          out(m) = (peek() match {
            case '"' => '"'
            case '\\' => '\\'
            case '/' => '/'
            case 'b' => '\b'
            case 'f' => '\f'
            case 'n' => '\n'
            case 'r' => '\r'
            case 't' => '\t'
            case _ => throw bail  // \u escapes and invalid ones
          }).toByte
        } else if (!plain(c)) throw bail
        else out(m) = c.toByte
        m += 1; pos += 1
      }
      null
    }

    /** A long field: a JSON integer in range, nothing else. */
    private def long(): java.lang.Long = {
      val start = pos
      if (peek() == '-') pos += 1
      val digits = pos
      peek() match {
        case '0' => pos += 1
        case c if c >= '1' && c <= '9' => while (pos < n && isDigit(b(pos))) pos += 1
        case _ => throw bail
      }
      if (pos < n && (isDigit(b(pos)) || b(pos) == '.' || b(pos) == 'e' ||
          b(pos) == 'E')) throw bail
      if (pos - digits > 18) {
        // 19 digits may overflow; 20 or more always do
        try java.lang.Long.valueOf(new String(b, start, pos - start,
          java.nio.charset.StandardCharsets.US_ASCII))
        catch { case _: NumberFormatException => throw bail }
      } else {
        var v = 0L
        var i = digits
        while (i < pos) { v = v * 10 + (b(i) - '0'); i += 1 }
        java.lang.Long.valueOf(if (digits > start) -v else v)
      }
    }

    /** Validate and skip any JSON value of an unknown field. */
    private def skip(depth: Int): Unit = peek() match {
      case '{' =>
        if (depth > MaxDepth) throw bail
        pos += 1; ws()
        if (peek() == '}') pos += 1
        else {
          var open = true
          while (open) {
            skipString(); ws(); expect(':'); ws(); skip(depth + 1); ws()
            peek() match {
              case ',' => pos += 1; ws()
              case '}' => pos += 1; open = false
              case _ => throw bail
            }
          }
        }
      case '[' =>
        if (depth > MaxDepth) throw bail
        pos += 1; ws()
        if (peek() == ']') pos += 1
        else {
          var open = true
          while (open) {
            skip(depth + 1); ws()
            peek() match {
              case ',' => pos += 1; ws()
              case ']' => pos += 1; open = false
              case _ => throw bail
            }
          }
        }
      case '"' => skipString()
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case c if c == '-' || isDigit(c) => skipNumber()
      case _ => throw bail
    }

    private def skipString(): Unit = {
      expect('"')
      while (true) {
        val c = peek()
        if (c == '"') { pos += 1; return }
        if (c == '\\') {
          pos += 1
          peek() match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => pos += 1
            case 'u' =>
              pos += 1
              var i = 0
              while (i < 4) {
                val h = peek()
                if (!(isDigit(h) || (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F')))
                  throw bail
                pos += 1; i += 1
              }
            case _ => throw bail
          }
        } else if (!plain(c)) throw bail
        else pos += 1
      }
    }

    /** -?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)? */
    private def skipNumber(): Unit = {
      val start = pos
      if (peek() == '-') pos += 1
      if (peek() == '0') {
        pos += 1
        if (pos < n && isDigit(b(pos))) throw bail  // leading zero
      } else digits()
      if (pos < n && b(pos) == '.') { pos += 1; digits() }
      if (pos < n && (b(pos) == 'e' || b(pos) == 'E')) {
        pos += 1
        if (peek() == '+' || peek() == '-') pos += 1
        digits()
      }
      if (pos - start > MaxNumber) throw bail
    }

    /** One or more digits. */
    private def digits(): Unit = {
      if (!isDigit(peek())) throw bail
      while (pos < n && isDigit(b(pos))) pos += 1
    }

    private def isNull(): Boolean =
      if (peek() == 'n') { literal("null"); true } else false

    private def literal(lit: String): Unit = {
      var i = 0
      while (i < lit.length) {
        if (peek() != lit.charAt(i)) throw bail
        pos += 1; i += 1
      }
    }

    private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

    /** A byte a string may hold unescaped: ASCII, not a control char. */
    private def plain(c: Char): Boolean = c >= 0x20 && c < 0x80

    private def ws(): Unit =
      while (pos < n && (b(pos) == ' ' || b(pos) == '\t' || b(pos) == '\n' ||
        b(pos) == '\r')) pos += 1

    private def peek(): Char = if (pos < n) (b(pos) & 0xff).toChar else throw bail

    private def expect(c: Char): Unit = {
      if (peek() != c) throw bail
      pos += 1
    }
  }

  def build(children: Seq[Expression]): Expression =
    FalconEnvelope(children.head)
}
