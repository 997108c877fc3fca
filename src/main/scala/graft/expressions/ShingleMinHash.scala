package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.security.MessageDigest

/** All `k` MinHash signatures of a token array in ONE pass: for each
  * 3-word shingle compute md5 once, then fold its 8·j-char rotations
  * into k running minima.
  *
  * Exact same math as the declarative form in
  * [[graft.operators.Dedup.withMinhashSigs]] (shingles → md5 →
  * rotate → min; min is binary/ASCII order, identical to array_min and
  * DuckDB varchar min), but none of its plan cost: no shingle array
  * materialization, no 600k-row explode, no exchange — the whole
  * signature family is a narrow per-row projection again, which is what
  * survives at 100 TB (signatures co-partitioned with the scan, the only
  * shuffle left is the LSH band join itself).
  *
  * CodegenFallback is deliberate: the per-row work (hundreds of md5
  * calls) dwarfs the one virtual call codegen would save, and the digest
  * instance is reused across the row's shingles.
  */
case class ShingleMinHash(child: Expression, shingleWords: Int, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      // rotation by 8·j chars has period 4 on a 32-char hex string: k > 4
      // would silently produce duplicate signatures (j and j+4 identical),
      // gutting LSH recall — reject at analysis time instead
      if (k < 1 || k > 4) TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_minhash supports 1..4 signatures (rotation period), got k=$k")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_minhash expects array<string>, got ${other.simpleString}")
  }

  private def md5Hex(md: MessageDigest, s: String): String = {
    md.reset()
    HexBytes.toHex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def rotate(h: String, by: Int): String =
    if (by == 0) h else h.substring(by) + h.substring(0, by)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val words = Array.tabulate(n)(i => arr.getUTF8String(i).toString)
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[String](k)
    def fold(shingle: String): Unit = {
      val h = md5Hex(md, shingle)
      var j = 0
      while (j < k) {
        val r = rotate(h, (j % 4) * 8)
        if (mins(j) == null || r.compareTo(mins(j)) < 0) mins(j) = r
        j += 1
      }
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
    new GenericArrayData(mins.map(m => UTF8String.fromString(m): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleMinHash extends NativeFunction("graft_shingle_minhash", classOf[ShingleMinHash]) {
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** Builds `graft_shingle_minhash(toks, w, k)`; `w` and `k` are integer literals. */
  def build(children: Seq[Expression]): Expression = ShingleMinHash(
    children.head,
    children(1).asInstanceOf[Literal].value.asInstanceOf[Int],
    children(2).asInstanceOf[Literal].value.asInstanceOf[Int])
}
