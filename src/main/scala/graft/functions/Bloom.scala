package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Sizing of a [[Bloom]] bitmap: `mBits` bits (power of two, so the
  * position computation is a cheap mask-able mod) probed by `k` hashes.
  *
  * The false-positive rate after inserting n keys is
  * ε ≈ (1 − e^(−kn/m))^k — the classic bound. Sizing is a REAL decision,
  * not a constant: the 2^20-bit default (128 KiB) holds a few hundred
  * thousand grams at ε < 1%, but at n = 10^8 grams it SATURATES
  * (kn/m ≈ 477 ⇒ ε ≈ 1) and prunes nothing. Correctness survives —
  * a saturated filter passes everything through to the exact join, so
  * the output is still bit-identical (and [[graft.CurationGateSpec]]
  * proves exactly that with a deliberately undersized filter) — but the
  * pre-filter does no work. For n = 10^8 at ε = 1% the formula
  * m = −n·ln ε / (ln 2)² gives m ≈ 2^30 bits (= 128 MiB, still flat
  * whatever the gram bytes) with k = (m/n)·ln 2 ≈ 7; a caller sizes the
  * filter to its eval suite by passing its own params.
  */
final case class BloomParams(mBits: Long, k: Int) {
  require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
    s"mBits must be a power of two >= 64, got $mBits")
  // 2^34 bits = 2 GiB of bitmap — already past any sane broadcast; the
  // bound also keeps `words` safely inside Int (overflow at 2^37 would
  // wrap Array.ofDim's size negative mid-aggregation)
  require(mBits <= (1L << 34),
    s"mBits must be <= 2^34 (a 2 GiB bitmap), got $mBits")
  require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
  /** Bitmap length in 64-bit words. */
  def words: Int = (mBits / 64L).toInt
  /** Expected false-positive rate after n insertions: (1 − e^(−kn/m))^k. */
  def expectedFp(n: Long): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n.toDouble / mBits.toDouble), k.toDouble)
}

/** Distributed Bloom filter, built and probed entirely with codegen'd
  * builtins — the mergeable-sketch membership gate for 100 TB
  * decontamination joins.
  *
  * Why it matters at scale: the exact eval-overlap gate ([[graft.queries.PipelineQueries.xDecontam]])
  * broadcasts the DISTINCT eval-set n-grams. Eval suites are small
  * relative to the corpus but not tiny in absolute terms — 10^8 grams ×
  * ~30 bytes is multi-GB, past the comfortable broadcast budget of a
  * 1000-executor cluster. A Bloom filter over the same grams is a FIXED
  * m-bit bitmap (m/8 bytes — 128 KiB at the default 2^20, independent
  * of the grams' byte size), it partial-aggregates map-side (bitwise OR
  * is associative and commutative), and a probe is k hash-and-test-bit
  * ops on builtins (`xxhash64`, `shiftright`, `&`) — whole-stage
  * codegen, no UDF. Sizing m and k to the eval-set cardinality is the
  * operator's one real knob: see [[BloomParams]] for the ε formula and
  * the honest 10^8 arithmetic.
  *
  * Bloom filters admit false positives and zero false negatives, so the
  * membership test is a PRE-FILTER, not the verdict: survivors still
  * flow through the exact equi-join, which at that point sees only the
  * true overlap plus an ε of false positives instead of the whole
  * corpus gram stream. Output is therefore bit-identical to the
  * unfiltered plan — the bloom twin shares its sibling's oracle — and
  * that equivalence holds at EVERY size, including a saturated
  * undersized filter that degrades to pass-through.
  *
  * Build side: [[Bloom.positions]] maps a gram to its k bit positions
  * (array of longs); [[BloomOr]] ORs them into the bitmap with one
  * fixed-size buffer per partition partial. Probe side:
  * [[Bloom.mightContain]] recomputes the same positions and tests each
  * bit with `element_at` + `shiftright` (via `call_function`, which
  * accepts Column shift amounts where the Scala wrapper takes only a
  * literal).
  */
object Bloom {
  /** 2^20 bits (128 KiB) × 5 hashes — ε < 1% up to ~10^5 keys. */
  val Default: BloomParams = BloomParams(1L << 20, 5)

  /** The k bit positions of a gram: xxhash64 seeded by the probe index
    * via an extra hashed column. Both build and probe sides call this,
    * so agreement is by construction. `p` is deliberately NOT defaulted:
    * a resized build side probed with a forgotten default would
    * mis-align bit positions and silently drop true overlaps.
    */
  def positions(gram: Column, p: BloomParams): Column =
    array((0 until p.k).map(i => pmod(xxhash64(gram, lit(i)), lit(p.mBits))): _*)

  /** Probe: AND of the k bit tests against `bitmap` (array<bigint> of
    * [[BloomParams.words]] words, 1-based for element_at). Codegen'd
    * builtins only.
    */
  def mightContain(bitmap: Column, gram: Column, p: BloomParams): Column =
    (0 until p.k).map { i =>
      val pos = pmod(xxhash64(gram, lit(i)), lit(p.mBits))
      val word = element_at(bitmap, (pos / 64).cast("int") + lit(1))
      call_function("shiftright", word, (pos % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
}

/** Typed Aggregator: OR the per-gram bit positions into one bitmap of
  * `words` 64-bit words.
  *
  * Buffer is the full fixed-size bitmap; `reduce` sets bits, `merge` is
  * word-wise OR — both associative, so Spark plans a map-side partial
  * (one bitmap per partition) and shuffles exactly one bitmap per
  * partition, never the gram stream.
  */
final case class BloomOr(words: Int)
    extends Aggregator[Seq[Long], Array[Long], Array[Long]] {
  override def zero: Array[Long] = Array.ofDim[Long](words)

  override def reduce(buf: Array[Long], positions: Seq[Long]): Array[Long] = {
    positions.foreach { pos =>
      buf((pos >>> 6).toInt) |= (1L << (pos & 63L))
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}
