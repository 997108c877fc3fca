package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import java.security.MessageDigest

/** Winnowing document fingerprints (the MOSS scheme) over a true ROLLING
  * hash: word values are the first 4 md5 bytes (cross-engine exact), each
  * k-gram hash H_i = Σ v_{i+j}·B^{k-1-j} is maintained by the O(1)
  * rolling update H_{i+1} = (H_i − v_i·B^{k-1})·B + v_{i+k}, and the
  * fingerprint set is the distinct minima of every w-gram window —
  * a position-robust document signature whose size tracks document
  * length / w, not length (unlike full shingle sets).
  *
  * B = 31, k and w are constructor params; no modulus is needed because
  * v < 2^32 and B^2·v·k < 2^63. Values are md5-derived so the DuckDB
  * oracle replays fingerprints exactly (hex-digit polynomial of
  * substr(md5(word), 1, 8)).
  *
  * Degenerate docs (< k words) fingerprint as the value of the
  * space-joined whole document — mirrored by the oracle's CASE.
  * One narrow pass per row: no shingle arrays, no explode, no shuffle.
  */
case class RollingWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rolling_winnow"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      // k ≤ 7 keeps B^(k-1)·v < 31^6·2^32 < 2^62 — the no-modulus
      // invariant; larger k would silently wrap the Long polynomial
      if (k < 1 || k > 7 || w < 1) TypeCheckResult.TypeCheckFailure(
        s"graft_rolling_winnow needs 1 <= k <= 7 and w >= 1, got k=$k w=$w")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rolling_winnow expects array<string>, got ${other.simpleString}")
  }

  private val B = 31L
  private lazy val bTop = { // B^(k-1)
    var p = 1L; var i = 1; while (i < k) { p *= B; i += 1 }; p
  }

  /** first 4 digest bytes as an unsigned 32-bit value — identical to
    * parsing the first 8 hex chars of the md5 string.
    */
  private def value(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val words = Array.tabulate(n)(i => arr.getUTF8String(i).toString)
    val md = MessageDigest.getInstance("MD5")
    val fps: Array[Long] =
      if (n < k) Array(value(md, words.mkString(" ")))
      else {
        val vals = words.map(value(md, _))
        val nGrams = n - k + 1
        val grams = new Array[Long](nGrams)
        // initial polynomial, then the O(1) rolling update per step
        var h = 0L
        var j = 0
        while (j < k) { h = h * B + vals(j); j += 1 }
        grams(0) = h
        var i = 1
        while (i < nGrams) {
          h = (h - vals(i - 1) * bTop) * B + vals(i + k - 1)
          grams(i) = h
          i += 1
        }
        // winnow: distinct minima of every w-window (single window if
        // there are fewer than w grams)
        val nWin = math.max(nGrams - w + 1, 1)
        val out = collection.mutable.SortedSet.empty[Long]
        var s = 0
        while (s < nWin) {
          var m = grams(s)
          var t = s + 1
          val end = math.min(s + w, nGrams)
          while (t < end) { if (grams(t) < m) m = grams(t); t += 1 }
          out += m
          s += 1
        }
        out.toArray
      }
    new GenericArrayData(fps.sorted.map(Long.box(_): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingWinnow extends NativeFunction("graft_rolling_winnow", classOf[RollingWinnow]) {
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** Builds `graft_rolling_winnow(toks, k, w)`; `k` and `w` are integer literals. */
  def build(children: Seq[Expression]): Expression = RollingWinnow(
    children.head,
    children(1).asInstanceOf[Literal].value.asInstanceOf[Int],
    children(2).asInstanceOf[Literal].value.asInstanceOf[Int])
}
