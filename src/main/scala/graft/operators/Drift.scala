package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Det.detRound4

/** Distribution-drift monitoring against a BOUNDED reference bin set —
  * the data-quality alarm a 100 TB ingest pages on before a bad crawl
  * poisons a shard: per time window, how far has the item (gram /
  * event-type / domain) distribution moved from a reference snapshot?
  *
  * Design for scale:
  *   - the reference is the top-[[REF_K]] bins by count plus ONE
  *     out-of-vocabulary bin lumping the remaining mass — a closed,
  *     bounded bin universe, so every per-window relation is at most
  *     |windows|·([[REF_K]]+1) rows no matter the corpus size;
  *   - scoring rides the same quantized-integer KL core as
  *     [[graft.queries.PipelineQueries.xKl]]: L(k) = round(ln k·2^20)
  *     on INTEGER arguments only, order-independent DECIMAL(38,0)
  *     sums (decimal BEFORE every corpus-mass multiply), one double
  *     assembly per output — bit-reproducible at any partitioning and
  *     replayable by an exact SQL oracle.
  */
object Drift {

  /** Reference head size: bins beyond the top-[[REF_K]] lump into OOV. */
  val REF_K = 1024

  /** The out-of-vocabulary lump bin. */
  val OOV = "__oov__"

  /** Reference bin table from a pre-counted (bin, c) relation: the
    * top-[[REF_K]] bins by (count desc, bin) keep their own counts;
    * one [[OOV]] row carries the remaining mass (possibly 0). Output
    * (bin, c1), ≤ [[REF_K]]+1 rows. The input should be staged if its
    * lineage is corpus-sized — both the head TakeOrdered and the total
    * re-read it.
    */
  def refBinsFromCounts(counts: DataFrame): DataFrame = {
    val c = Scale.stage(counts.select(col("bin"), col("c")))
    val head = Scale.stage(c.orderBy(col("c").desc, col("bin")).limit(REF_K))
    val headMass = head.agg(coalesce(sum("c"), lit(0L)).as("hm"))
    val totMass = c.agg(coalesce(sum("c"), lit(0L)).as("tm"))
    head.select(col("bin"), col("c").as("c1"))
      .unionByName(totMass.crossJoin(broadcast(headMass))
        .select(lit(OOV).as("bin"), (col("tm") - col("hm")).as("c1")))
  }

  /** Per-window drift scores from per-(window, bin) counts vs a
    * reference: smoothed KL both directions and (equally smoothed)
    * total-variation distance, the [[graft.queries.PipelineQueries.xKl]]
    * formulas evaluated over the CLOSED bin universe B = ref bins
    * (head + OOV) — absent bins materialize on a |windows|·|B| grid
    * (bounded by construction), so the add-one smoothing is exact, not
    * approximated by a present-bins-only sum.
    *
    * `counts`: (wstart LONG, bin STRING, c0 LONG) with every input
    * item already mapped into B (unknown bins counted under [[OOV]]).
    * `ref`: (bin, c1) from [[refBinsFromCounts]]. Output per window:
    * (wstart, n0, kl_wr = KL(window‖ref), kl_rw = KL(ref‖window), tv).
    */
  def windowDrift(counts: DataFrame, ref: DataFrame): DataFrame = {
    val Q = Stats.LnQ
    def lnq(c: Column) = round(log(c.cast("double")) * Q).cast("long")
    // bounded relation (≤ windows·|B| rows), consumed by two branches
    val cnts = Scale.stage(counts.select(
      col("wstart"), col("bin"), col("c0").cast("long").as("c0")))
    val wins = cnts.groupBy("wstart").agg(sum("c0").as("n0"))
    val tot = ref.agg(count(lit(1)).as("v"), sum("c1").as("n1"))
    val grid = wins.crossJoin(broadcast(tot))
      .crossJoin(broadcast(ref))
      .join(cnts, Seq("wstart", "bin"), "left")
      .na.fill(0L, Seq("c0"))
    val sums = grid
      .select(col("wstart"), col("n0"), col("v"), col("n1"),
        col("c0"), col("c1"),
        (lnq(col("c0") + 1) - lnq(col("c1") + 1)).as("dl"))
      .groupBy("wstart")
      .agg(max("n0").as("n0"), max("v").as("v"), max("n1").as("n1"),
        // decimal BEFORE the multiply — counts are corpus-mass longs
        sum((col("c0") + 1).cast("decimal(38,0)") * col("dl")).as("a01"),
        sum((col("c1") + 1).cast("decimal(38,0)") * -col("dl")).as("a10"),
        sum(abs((col("c0") + 1).cast("decimal(38,0)") * (col("n1") + col("v")) -
          (col("c1") + 1).cast("decimal(38,0)") * (col("n0") + col("v"))))
          .as("tvnum"))
    sums.select(col("wstart"), col("n0"),
      detRound4((col("a01").cast("double") / (col("n0") + col("v")).cast("double") +
        (lnq(col("n1") + col("v")) - lnq(col("n0") + col("v"))).cast("double")) / Q)
        .as("kl_wr"),
      detRound4((col("a10").cast("double") / (col("n1") + col("v")).cast("double") +
        (lnq(col("n0") + col("v")) - lnq(col("n1") + col("v"))).cast("double")) / Q)
        .as("kl_rw"),
      detRound4(col("tvnum").cast("double") /
        (lit(2.0) * (col("n0") + col("v")).cast("double") *
          (col("n1") + col("v")).cast("double"))).as("tv"))
  }

  /** Map a pre-counted (wstart, bin, c0) relation into the reference
    * bin universe: head bins keep their identity, everything else lumps
    * into [[OOV]] (re-aggregated, since several tail bins collapse onto
    * one OOV row per window). [[windowDrift]]'s contract requires
    * pre-mapped input — feeding it raw bins when distinct bins exceed
    * [[REF_K]] would inflate n0 while the tail rows drop off the
    * ref-universe grid, silently breaking the smoothed-KL identity
    * Σ(c0+1) = n0+v. Broadcast join against the ≤[[REF_K]]-row head;
    * output stays ≤ |windows|·([[REF_K]]+1) rows.
    */
  def mapCountsToRef(counts: DataFrame, ref: DataFrame): DataFrame =
    counts
      .join(broadcast(ref.where(col("bin") =!= OOV)
        .select(col("bin"), lit(true).as("__hit"))), Seq("bin"), "left")
      .select(col("wstart"),
        when(col("__hit").isNull, lit(OOV)).otherwise(col("bin")).as("bin"),
        col("c0"))
      .groupBy("wstart", "bin").agg(sum("c0").as("c0"))

  /** Per-window quarantine verdicts over a [[windowDrift]] output — the
    * drift→ACTION composition: a window is quarantined when its
    * KL(window‖ref) is a one-sided 2σ outlier against the window
    * population. RELATIVE, not an absolute KL budget, for the
    * [[graft.queries.PipelineQueries.sourceOutlier]] reason: absolute
    * drift scores are corpus- and smoothing-dependent (small windows
    * are noisier), while "which windows drifted anomalously vs their
    * peers" is the question a quarantine gate actually asks.
    *
    * Exactness: with qk = round(kl_wr·10⁴) (already exact — kl_wr is
    * detRound4'd), window count nw and moments S₁ = Σqk, S₂ = Σqk²,
    * the test (qk − S₁/nw)² > 4·(S₂/nw − (S₁/nw)²) clears denominators
    * to d = nw·qk − S₁ (exact DECIMAL, decimal before the multiply)
    * and d > 0 ∧ d² > 4·(nw·S₂ − S₁²), the square comparison assembled
    * in ONE double expression over exact integer operands (identical
    * IEEE ops both engines). The stats relation is ONE global aggregate
    * over the bounded |windows|-row drift relation, broadcast back.
    * Degenerate cases stay sane: all-equal KLs ⇒ d = 0 ⇒ nothing
    * quarantines; nw ≤ 2 can never trip (d² = nw·S₂ − S₁² exactly at
    * nw = 2).
    *
    * Output: (wstart, n0, kl_wr, quarantined 0/1).
    */
  def driftVerdicts(drift: DataFrame): DataFrame = {
    val qs = drift.select(col("wstart"), col("n0"), col("kl_wr"),
      round(col("kl_wr") * 10000).cast("long").as("qk"))
    val st = qs.agg(count(lit(1)).as("nw"),
      sum(col("qk").cast("decimal(38,0)")).as("s1"),
      sum(col("qk").cast("decimal(38,0)") * col("qk")).as("s2"))
    qs.crossJoin(broadcast(st))
      .withColumn("d", col("qk").cast("decimal(38,0)") * col("nw") - col("s1"))
      .withColumn("quarantined",
        (col("d") > 0 && col("d").cast("double") * col("d").cast("double") >
          lit(4.0) * (col("nw").cast("decimal(38,0)") * col("s2") -
            col("s1") * col("s1")).cast("double")).cast("bigint"))
      .select("wstart", "n0", "kl_wr", "quarantined")
  }
}
