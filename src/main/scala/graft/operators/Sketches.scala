package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches — the streaming-safe
  * summaries a 100 TB ingest keeps instead of exact state: Count-Min
  * (per-item frequency, always an overestimate), HyperLogLog register
  * state (distinct count in m bytes), and signed-random-projection
  * (Johnson–Lindenstrauss) vector compression. All three are pure
  * aggregations of per-row hash math, so at scale they are ONE
  * map-side-combined groupBy each — no pairwise joins, no windows —
  * and their states merge associatively (CMS: counter sum; HLL:
  * register max; SRP: stateless per row), which is what makes them
  * drop-in Structured Streaming aggregates.
  *
  * Determinism contract (the cross-engine discipline of this repo):
  * every hash is md5 over explicit UTF-8 bytes, every bit extraction
  * is integer nibble math, and every data-dependent CASE (the HLL rank
  * ladder, the register→numerator map) is GENERATED from the same
  * Scala constants the DuckDB oracle interpolates — identical hex in,
  * identical sketch out, on any engine at any scale factor.
  */
object Sketches {

  /** Count-Min depth (independent hash rows). 4 rows drive the
    * over-estimate probability per item to (collision mass)⁴ — the
    * standard production depth; width is the accuracy lever.
    */
  val CMS_D = 4

  /** Count-Min width (buckets per row). Error bound: overcount per
    * item ≤ e·N/W with prob 1−(1/e)^D over the hash draw; at the
    * fixture's ~27k distinct grams, 1024 buckets ≈ 27 colliders per
    * bucket — enough mass to make the bound check non-vacuous. The
    * sketch is D·W counters REGARDLESS of corpus size: at 100 TB it is
    * still one 4×1024 long table (grow W ~ N/ε for fixed absolute
    * error; the plan shape never changes).
    */
  val CMS_W = 1024

  /** HLL bucket bits: m = 2^6 = 64 registers (stderr ≈ 1.04/√m ≈ 13%).
    * Production uses b=11–14; the register table stays ≤ 2^b rows and
    * every plan below is b-agnostic.
    */
  val HLL_B = 6
  val HLL_M = 1 << HLL_B

  /** Bits of the md5-derived hash left for the rank after the bucket
    * takes [[HLL_B]]: two 32-bit halves minus the bucket bits. DERIVED
    * from [[HLL_B]] (as are the shift/mask in [[hllRegisters]]) so a
    * b bump moves the Spark plan, the rank ladder, and the DuckDB
    * twins together.
    */
  val HLL_WBITS = 64 - HLL_B

  /** Signed-random-projection target dimension (64 → 16 = 4×
    * compression; JL distortion ~ √(ln n / k)).
    */
  val SRP_K = 16

  /** K-minimum-values sketch size: relative error ≈ 1/√(k−2) ≈ 6% at
    * 256. The state is k 63-bit hashes regardless of corpus size.
    */
  val KMV_K = 256

  /** AMS (Alon–Matias–Szegedy) F2 sketch: number of independent ±1
    * sign rows; the estimate is the MEDIAN of the squared row sums, so
    * an even count averages the two middle order statistics.
    */
  val AMS_D = 8

  /** Bloom hash-function count. */
  val BLOOM_K = 4

  /** Bloom bit-count tiers (powers of two, 2^14..2^24). The WIDTH
    * SCALES WITH THE INSERT COUNT — the [[graft.operators.Dedup.simhashWidthFor]]
    * discipline: a fixture-pinned m saturates at 10× data (fill → 1,
    * fp → 1). [[bloomMFor]] picks the smallest tier with m ≥ 2·k·n
    * (fill ≤ 1−e^(−1/2) ≈ 39%, fp ≈ 0.39^k ≈ 2%), and the DuckDB
    * oracle replays the SAME integer tiering from count(*) via
    * [[bloomMCaseSql]], so the cross-engine match is SF-independent.
    */
  val BLOOM_TIERS: Seq[Int] = (14 to 24).map(1 << _)

  /** Smallest tier with m ≥ 2·k·n; the top tier past that. */
  def bloomMFor(n: Long): Int =
    BLOOM_TIERS.find(m => m.toLong >= 2L * BLOOM_K * n)
      .getOrElse(BLOOM_TIERS.last)

  /** Engine-neutral CASE replaying [[bloomMFor]] over a count
    * expression — splice into oracle SQL next to the same count the
    * Spark plan derived m from.
    */
  def bloomMCaseSql(nExpr: String): String =
    BLOOM_TIERS.init
      .map(m => s"WHEN 2 * $BLOOM_K * ($nExpr) <= $m THEN $m")
      .mkString("CASE ", " ", s" ELSE ${BLOOM_TIERS.last} END")

  /** The ±1 AMS sign of `item` in sign row `d`: low bit of the first
    * md5 nibble of "d~item" (the `~` salt keeps the AMS hash family
    * disjoint from the CMS bucket family on the same items).
    */
  def amsSign(d: Int, item: Column): Column =
    when(hex32(md5(concat(lit(s"$d~"), item).cast("binary")), 1)
      .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))

  /** DuckDB twin of [[amsSign]]. */
  def amsSignSql(d: String, item: String): String =
    s"(CASE WHEN ${hex32Sql(s"md5(concat(CAST($d AS VARCHAR), '~', $item))", 1)} & 1 = 1" +
      " THEN 1 ELSE -1 END)"

  /** Bloom bit index of `item` under hash function `j`, modulo the
    * tier `m` ([[bloomMFor]]).
    */
  def bloomBit(j: Int, item: Column, m: Int): Column =
    hex32(md5(concat(lit(s"$j#"), item).cast("binary")), 1) % m

  /** DuckDB twin of [[bloomBit]] (`mExpr` is the replayed tier — a
    * cross-joined scalar column or the [[bloomMCaseSql]] CASE).
    */
  def bloomBitSql(j: String, item: String, mExpr: String): String =
    s"${hex32Sql(s"md5(concat(CAST($j AS VARCHAR), '#', $item))", 1)} % ($mExpr)"

  /** The Bloom bit SET of an item column: distinct bit indices over
    * the [[BLOOM_K]] hash functions — ≤m rows, the broadcast state
    * membership probes join against. Spelled as a groupBy aggregation
    * (NOT `.distinct()`, which lowers to a streaming Deduplicate that
    * complete-mode rejects): the same batch Aggregate, and on a stream
    * it becomes union-merged, duplicate-idempotent bit state.
    */
  def bloomBits(items: DataFrame, item: Column, m: Int): DataFrame =
    items
      .select(explode(array((0 until BLOOM_K).map(j =>
        bloomBit(j, item, m)): _*)).as("bit"))
      .groupBy("bit").agg(count(lit(1)).as("n_set"))
      .select("bit")

  /** Membership probe: `maybe` = 1 iff ALL k bits of the item are set
    * (no false negatives by construction; false positives measured by
    * the caller against exact membership). The bit set is bounded →
    * broadcast; probes stream. The ALL-bits test is a MIN over the
    * per-bit hit flags — duplicate-idempotent, so a probe relation
    * with repeated items (an at-least-once stream) still answers
    * correctly (a sum-vs-k test would see 2k hits and report a FALSE
    * NEGATIVE for a genuinely inserted duplicate item).
    */
  def bloomMaybe(probes: DataFrame, item: Column, bits: DataFrame, m: Int): DataFrame =
    probes.select(item.as("item"),
        explode(array((0 until BLOOM_K).map(j => bloomBit(j, item, m)): _*)).as("bit"))
      // left join + indicator (NOT a semi join): an item with zero set
      // bits must still reach the aggregate to report maybe = 0
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("bit"), "left")
      .groupBy("item")
      .agg((min(coalesce(col("hit"), lit(0L))) === 1L)
        .cast("bigint").as("maybe"))

  /** First 8 hex nibbles of a 32-char md5 hex string, from `pos`
    * (1-based), as an unsigned 32-bit value in a long. The DuckDB twin
    * is [[hex32Sql]] — same nibbles, same value.
    */
  def hex32(m: Column, pos: Int): Column =
    conv(substring(m, pos, 8), 16, 10).cast("long")

  /** DuckDB twin of [[hex32]]: positional nibble math (strpos over the
    * hex alphabet, shifted into place) — no strtol/from_hex dialect
    * dependence.
    */
  def hex32Sql(m: String, pos: Int): String =
    s"CAST(list_aggregate(list_transform(range(0, 8), i -> " +
      s"CAST(strpos('0123456789abcdef', substr($m, $pos + CAST(i AS INTEGER), 1)) - 1 AS BIGINT) " +
      s"* (CAST(1 AS BIGINT) << CAST((7 - i) * 4 AS INTEGER))), 'sum') AS BIGINT)"

  /** CMS bucket of `item` in hash row `d`: md5 over "d:item" bytes,
    * first 32 bits mod [[CMS_W]]. Salting the ROW INDEX into the hash
    * input gives the D independent hash functions from the one md5.
    */
  def cmsBucket(d: Int, item: Column): Column =
    hex32(md5(concat(lit(s"$d:"), item).cast("binary")), 1) % CMS_W

  /** DuckDB twin of [[cmsBucket]] (`d` may be a SQL expression). */
  def cmsBucketSql(d: String, item: String): String =
    s"${hex32Sql(s"md5(concat(CAST($d AS VARCHAR), ':', $item))", 1)} % $CMS_W"

  /** The Count-Min sketch of a pre-aggregated `(item, cnt)` relation:
    * `(row, bucket, c)` with c = Σ cnt over items hashing to the
    * bucket — at most [[CMS_D]]·[[CMS_W]] rows. Building from counts
    * (not raw occurrences) keeps the explode at |vocab|·D, and the
    * counts relation itself is one map-side-combined groupBy of the
    * corpus — the same two-step a streaming ingest does per batch
    * before merging counters by (row, bucket) sum.
    */
  def cmsSketch(counts: DataFrame, item: Column, cnt: Column): DataFrame =
    counts
      .select(explode(array((0 until CMS_D).map(d =>
        struct(lit(d).as("row"), cmsBucket(d, item).as("bucket"),
          cnt.as("c"))): _*)).as("e"))
      .groupBy(col("e.row").as("row"), col("e.bucket").as("bucket"))
      .agg(sum(col("e.c")).as("c"))

  /** Point estimates from a sketch: for each row of `items` (column
    * `itemCol` named `item`), est = min over the D rows of the bucket
    * counter. The sketch is bounded (≤ D·W rows) → broadcast; the
    * probe side streams. Missing (row,bucket) pairs are impossible for
    * items that were IN the sketched corpus (their own count is there),
    * so the inner join is lossless for those; out-of-corpus probes
    * would need a coalesce-to-0 left join — callers here probe the
    * corpus itself.
    */
  def cmsEstimate(items: DataFrame, itemCol: Column, sketch: DataFrame,
                  carry: Seq[String] = Nil): DataFrame = {
    // a carry column named like an internal probe/aggregate column would
    // collide silently (the saltedTopKPerKey guard, applied here —
    // ADVICE r16)
    val reserved = carry.toSet.intersect(Set("item", "row", "bucket", "e", "est"))
    require(reserved.isEmpty,
      s"cmsEstimate: carry column(s) ${reserved.mkString(", ")} collide with internal names")
    val probes = items.select((itemCol.as("item") +:
      explode(array((0 until CMS_D).map(d =>
        struct(lit(d).as("row"), cmsBucket(d, itemCol).as("bucket"))): _*)).as("e") +:
      carry.map(col)): _*)
      .select((col("item") +: col("e.row").as("row") +:
        col("e.bucket").as("bucket") +: carry.map(col)): _*)
    probes.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("item")
      // `carry` columns are constant per item (an exact count riding
      // along), so max() reproduces the value — this saves the caller a
      // second vocabulary-sized derivation + shuffle join to re-attach it
      .agg(min(col("c")).as("est"), carry.map(c => max(col(c)).as(c)): _*)
  }

  /** Join-cardinality estimate from two CMS sketches (the planner use:
    * |A ⋈ B| on the sketched key ≈ min over hash rows of the counter
    * inner product Σ_b cA[b]·cB[b] — an overestimate of Σ_key
    * cntA·cntB, exact when no bucket collides). Operates ONLY on the
    * two bounded counter tables: a ≤W-row join per hash row, one row
    * out (`est_join`).
    */
  def cmsJoinEstimate(skA: DataFrame, skB: DataFrame): DataFrame =
    skA.withColumnRenamed("c", "ca")
      .join(skB.withColumnRenamed("c", "cb"), Seq("row", "bucket"))
      // counters hold corpus MASS: the product must widen to decimal
      // BEFORE multiplying or it overflows Long near ~3e10 occurrences
      .groupBy("row")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("ip"))
      .agg(min(col("ip")).cast("decimal(38,0)").as("est_join"))

  /** The HLL rank ladder as an engine-neutral CASE over the 58-bit
    * tail `w`: rank = (leading zeros of w in [[HLL_WBITS]] bits) + 1 =
    * 59 − bitlength(w), all-zero tail → 59. Generated from the SAME
    * thresholds on both engines (no log2 — libm is not cross-engine).
    */
  def rankCaseSql(w: String): String =
    (HLL_WBITS - 1 to 0 by -1)
      .map(t => s"WHEN $w >= ${1L << t} THEN ${HLL_WBITS - t}")
      .mkString("CASE ", " ", s" ELSE ${HLL_WBITS + 1} END")

  /** register → 2^(59−register), the integer harmonic-mean numerator
    * (Σ 2^−reg scaled by 2^59 — exact, no floats in the sketch state).
    * Generated CASE so both engines agree bit-for-bit.
    */
  def numerCaseSql(reg: String): String =
    (1 to HLL_WBITS + 1)
      .map(r => s"WHEN $reg = $r THEN ${1L << (HLL_WBITS + 1 - r)}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** HLL register table of an item column: md5(item) → 64-bit value as
    * two 32-bit halves; bucket = top [[HLL_B]] bits, rank = leading
    * zeros of the remaining [[HLL_WBITS]] bits + 1; register = max rank
    * per bucket. No distinct pass — max is idempotent, duplicates are
    * free, which is exactly why HLL streams. Output ≤ [[HLL_M]] rows:
    * (bucket, register, numer).
    */
  def hllRegisters(items: DataFrame, item: Column): DataFrame = {
    val halves = items.select(md5(item.cast("binary")).as("m"))
      .select(hex32(col("m"), 1).as("v1"), hex32(col("m"), 9).as("v2"))
    val shift = 32 - HLL_B
    val mask = (1L << shift) - 1
    halves
      .select(shiftright(col("v1"), shift).as("bucket"),
        (col("v1").bitwiseAND(lit(mask)) * lit(1L << 32) + col("v2")).as("w"))
      .select(col("bucket"), expr(rankCaseSql("w")).as("rank"))
      .groupBy("bucket").agg(max(col("rank")).cast("bigint").as("register"))
      .select(col("bucket"), col("register"),
        expr(numerCaseSql("register")).as("numer"))
  }

  /** The ±1 Rademacher sign matrix for SRP, k×dim, derived from
    * md5("k:i") (low bit of the first nibble). A CONSTANT table — both
    * the Spark literal and the DuckDB list literal interpolate from
    * this one val, so the projection is engine-independent by
    * construction.
    */
  def srpSigns(dim: Int): IndexedSeq[IndexedSeq[Int]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until SRP_K).map { k =>
      (0 until dim).map { i =>
        val h = mdt.digest(s"$k:$i".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  /** DuckDB list literal of [[srpSigns]] (1-indexed on both engines). */
  def srpSignsSql(dim: Int): String =
    srpSigns(dim).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** The k projections of an embedding column: proj[k] = Σᵢ sign[k][i]
    * · emb[i], summed in ascending i on both engines (float addition
    * is order-sensitive; ascending-index fold is the repo's summation
    * order contract). Per-row arithmetic only — at 100 TB this runs
    * inside the scan projection with zero shuffles.
    */
  def srpProject(emb: Column, dim: Int): Column = {
    // one codegen'd graft_dot per plane against a per-plane double
    // literal — bit-identical to the nested-HOF fold it replaces (same
    // ascending-index order, sign[k][i]·emb[i] with the sign on the
    // left, int signs cast exactly to double), but whole-stage-codegen
    // friendly: the HOF form was CodegenFallback and its 16×dim
    // per-element lambda walk dropped the projection stage out of
    // codegen wherever SRP appears
    array(srpSigns(dim).map(row =>
      graft.expressions.FloatDot.call(
        typedlit(row.map(_.toDouble).toArray), emb)): _*)
  }
}
