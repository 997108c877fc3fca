package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-trigram set Jaccard of two strings in ONE fused pass —
  * |A∩B| / (|A|+|B|−|A∩B|) over DISTINCT trigrams, where a text shorter
  * than 3 chars contributes its single partial gram (the whole text),
  * exactly the gram set of [[CharTrigrams]].
  *
  * Semantically identical to
  * `array_distinct(trigrams(a)) ∩/∪ array_distinct(trigrams(b))` (the
  * declarative form this replaces — differentially spec-tested equal),
  * but none of its cost: no gram arrays materialized, no per-element
  * UTF8String hashing in array_distinct/array_intersect. Each trigram is
  * packed into ONE long (3 × 21-bit code points; absent positions take a
  * sentinel above Unicode's 0x10FFFF max, so partial grams can never
  * alias a real trigram) and membership runs against an open-addressed
  * primitive long table — the whole comparison is two code-point scans
  * and O(len) probes. Packing is injective on code-point sequences and
  * string equality IS code-point-sequence equality, so the fused counts
  * equal the string-set counts exactly and the division reproduces the
  * declarative (and DuckDB-oracle) double bit-for-bit.
  *
  * CodegenFallback is deliberate (same call as [[ShingleMinHash]]): the
  * per-row work is two O(len) scans, dwarfing the one virtual call
  * codegen would save.
  */
case class TrigramJaccard(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_trigram_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_trigram_jaccard expects (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  // 0x1FFFFF is 21 bits of ones — above the 0x10FFFF code-point max, so
  // no real character packs to it
  private final val Absent = 0x1FFFFFL

  private def packAt(cps: Array[Int], i: Int): Long = {
    val c0 = cps(i).toLong
    val c1 = if (i + 1 < cps.length) cps(i + 1).toLong else Absent
    val c2 = if (i + 2 < cps.length) cps(i + 2).toLong else Absent
    c0 | (c1 << 21) | (c2 << 42)
  }

  /** Open-addressed insert; returns true if the key was new. Table slots
    * hold key+1 so 0 can mean empty (key 0 is a valid packed gram).
    */
  private def insert(table: Array[Long], key: Long): Boolean = {
    val mask = table.length - 1
    var slot = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)) & mask
    while (true) {
      val v = table(slot)
      if (v == 0L) { table(slot) = key + 1; return true }
      if (v == key + 1) return false
      slot = (slot + 1) & mask
    }
    false
  }

  private def contains(table: Array[Long], key: Long): Boolean = {
    val mask = table.length - 1
    var slot = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)) & mask
    while (true) {
      val v = table(slot)
      if (v == 0L) return false
      if (v == key + 1) return true
      slot = (slot + 1) & mask
    }
    false
  }

  private def tableFor(n: Int): Array[Long] = {
    // next power of two ≥ 2n keeps load factor ≤ 0.5
    var cap = 4
    while (cap < 2 * n) cap <<= 1
    new Array[Long](cap)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ca = a.asInstanceOf[UTF8String].toString.codePoints().toArray
    val cb = b.asInstanceOf[UTF8String].toString.codePoints().toArray
    val na = math.max(ca.length - 2, 1)
    val nb = math.max(cb.length - 2, 1)
    val ta = tableFor(na)
    var sa = 0
    var i = 0
    // empty text: zero code points still yield the one all-Absent gram,
    // matching CharTrigrams' single empty partial gram
    while (i < na) {
      if (insert(ta, if (ca.isEmpty) Absent | (Absent << 21) | (Absent << 42)
                     else packAt(ca, i))) sa += 1
      i += 1
    }
    val tb = tableFor(nb)
    var sb = 0
    var ni = 0
    i = 0
    while (i < nb) {
      val key = if (cb.isEmpty) Absent | (Absent << 21) | (Absent << 42)
                else packAt(cb, i)
      if (insert(tb, key)) {
        sb += 1
        if (contains(ta, key)) ni += 1
      }
      i += 1
    }
    ni.toDouble / (sa + sb - ni).toDouble
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object TrigramJaccard extends NativeFunction("graft_trigram_jaccard", classOf[TrigramJaccard]) {
  def build(children: Seq[Expression]): Expression =
    TrigramJaccard(children(0), children(1))
}
