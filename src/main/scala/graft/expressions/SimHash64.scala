package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

import java.security.MessageDigest

/** 64-bit SimHash of a token array, returned as a signed 64-bit LONG so
  * downstream band extraction (`shiftrightunsigned` + mask) and Hamming
  * verification (`bit_count(a ^ b)`) stay codegen'd integer arithmetic —
  * no per-pair string work anywhere. The DuckDB oracle rebuilds the same
  * two's-complement value from the bit sums via HUGEINT halves.
  *
  * Definition (replayed verbatim by the x_simhash oracle): token hash =
  * first 16 hex chars of md5(word) = 64 bits, bit i of hex char c is
  * `(value(c) >> (3 - i%4)) & 1`; each token adds +1/-1 per bit
  * (multiplicity counts); output bit i (MSB-first: bit 0 is the long's
  * bit 63) is set iff the sum is strictly positive. Near-duplicate
  * documents land at small Hamming distance.
  *
  * Single pass per row (digest reused), CodegenFallback for the same
  * reason as [[ShingleMinHash]] — per-row work dwarfs the call overhead.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 expects array<string>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = MessageDigest.getInstance("MD5")
    val sums = new Array[Int](64)
    var w = 0
    val n = arr.numElements()
    while (w < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(w).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 bytes = first 16 hex chars = 64 bits, MSB-first per nibble
      var i = 0
      while (i < 64) {
        val hexChar = (if (i % 8 < 4) (d(i / 8) >> 4) else d(i / 8)) & 0xf
        val bit = (hexChar >> (3 - (i % 4))) & 1
        sums(i) += (if (bit == 1) 1 else -1)
        i += 1
      }
      w += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (sums(i) > 0) out |= (1L << (63 - i)); i += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 extends NativeFunction("graft_simhash64", classOf[SimHash64]) {
  def build(children: Seq[Expression]): Expression =
    SimHash64(children.head)
}
