package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.security.MessageDigest

/** n-PERMUTATION MinHash of a token array in one pass, ONE md5 per
  * shingle: the digest's two 64-bit halves (h1, h2) seed the
  * Kirsch–Mitzenmacher double-hashing family
  * `perm_i(shingle) = (h1 + i·h2) mod 2^64`, and the signature is the
  * per-permutation UNSIGNED minimum over all shingles, formatted as a
  * zero-padded 20-digit decimal so plain string order equals numeric
  * order everywhere downstream (band keys, group-signature minima, the
  * DuckDB varchar min).
  *
  * This is the scale-grade successor of [[ShingleMinHash]]'s rotation
  * family (period-capped at k=4) AND of the earlier md5-per-permutation
  * seeding: n permutations previously cost n digest calls per shingle —
  * the dominant line of every signature query's profile — where double
  * hashing derives all n from a single call. At 100 TB that is the
  * difference between 1 and n compression rounds per shingle in the hot
  * loop; the estimator trade (linear combinations instead of independent
  * draws) is the standard one and the banding s-curve is unchanged.
  *
  * The DuckDB oracle replays it exactly: both halves are hex-substring
  * polynomials of `md5(shingle)`, the combination runs in HUGEINT mod
  * 2^64, and `lpad(CAST(min(…) AS VARCHAR), 20, '0')` reproduces the
  * padded-decimal signature (Java's wrapping Long arithmetic IS mod
  * 2^64; minima compare with compareUnsigned to match the oracle's
  * non-negative HUGEINT order).
  *
  * The whole expression stays a narrow per-row projection — no shingle
  * arrays, no explode, no shuffle; the LSH band join remains the only
  * exchange. CodegenFallback is deliberate: per-row work (md5 per
  * shingle) dwarfs the virtual call codegen would save.
  */
case class ShinglePermMinHash(child: Expression, shingleWords: Int, numPerms: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_perm_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      if (numPerms < 1 || numPerms > 1024) TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_perm_minhash supports 1..1024 permutations, got $numPerms")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_perm_minhash expects array<string>, got ${other.simpleString}")
  }

  private def beLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val words = Array.tabulate(n)(i => arr.getUTF8String(i).toString)
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Long](numPerms)
    var filled = false
    def fold(shingle: String): Unit = {
      val d = md.digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h1 = beLong(d, 0)
      val h2 = beLong(d, 8)
      var j = 0
      var v = h1                       // (h1 + j·h2) by running addition
      while (j < numPerms) {
        if (!filled || java.lang.Long.compareUnsigned(v, mins(j)) < 0) mins(j) = v
        v += h2
        j += 1
      }
      filled = true
    }
    if (n >= shingleWords) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - shingleWords) {
        sb.setLength(0)
        var w = 0
        while (w < shingleWords) {
          if (w > 0) sb.append(' ')
          sb.append(words(i + w))
          w += 1
        }
        fold(sb.toString)
        i += 1
      }
    } else {
      fold(words.mkString(" "))
    }
    new GenericArrayData(mins.map { m =>
      val s = java.lang.Long.toUnsignedString(m)
      UTF8String.fromString("0" * (20 - s.length) + s): Any
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShinglePermMinHash extends NativeFunction("graft_shingle_perm_minhash", classOf[ShinglePermMinHash]) {
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** Builds `graft_shingle_perm_minhash(toks, w, n)`; `w` and `n` are integer literals. */
  def build(children: Seq[Expression]): Expression = ShinglePermMinHash(
    children.head,
    children(1).asInstanceOf[Literal].value.asInstanceOf[Int],
    children(2).asInstanceOf[Literal].value.asInstanceOf[Int])
}
