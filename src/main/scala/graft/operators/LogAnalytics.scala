package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Humio-style log-analytics surface the reference connector feeds
  * (SURVEY.md §2.3-B: timechart, sliding windows, sessionization, top-k,
  * distinct, percentiles, dedup, late-data policy), as reusable Spark
  * operators over an event table (`ts` timestamp, keyed columns).
  *
  * Scale notes (100 TB): every operator here is a single hash shuffle on
  * its grouping key with map-side partial aggregation, or a single window
  * shuffle on its partition key. None buffers unbounded state per key
  * except the window sorts, which Tungsten spills. Skewed keys (one hot
  * user) are the risk for the window ops — at cluster scale mitigate with
  * AQE skew handling; the operators take the partition key as a Column so
  * callers can salt.
  */
object LogAnalytics {

  /** Tumbling-window counts ("timechart"): bucket event-time to `unit`
    * (e.g. "hour") × a dimension. Partial-aggregates map-side; output
    * cardinality is buckets×dims, tiny at any input scale.
    */
  def timechart(events: DataFrame, unit: String, dim: Column): DataFrame =
    events.groupBy(
        unix_millis(date_trunc(unit, col("ts"))).as("bucket_ms"),
        dim.as("dim"))
      .agg(count(lit(1)).as("n"))

  /** Sliding average of `valueCol` over the trailing `windowMs` of
    * event-time within each `part` group. RANGE frame on epoch millis so
    * frame membership depends only on timestamp values (deterministic
    * under ties). The sum runs over exact integer cents (fixture values
    * are 2-decimal) with one final division — float-summation order then
    * cannot perturb the result, engine to engine.
    */
  /** Scale-safe [[slidingAvg]]: the trailing-range window without the
    * single-task-per-key sort that `Window.partitionBy(lowCardKey)`
    * plans (the q_ntile disease — PlanGuardSpec rejects the shape).
    * OVERLAP REPLICATION: with time bucket b = t DIV windowMs, every
    * row a trailing windowMs frame at time t can reach lives in bucket
    * b(t) or b(t)−1 — so each row is replicated into its home bucket
    * and the next one, the range window runs per (key, bucket) (task
    * parallelism |keys|·|time-buckets|, growing with the data), and
    * only home rows keep their result (a ghost's own frame is
    * truncated; it exists to complete its successors' frames). 2× rows
    * through one exchange buys unbounded parallelism; results are
    * bit-identical to the plain window (value-based RANGE frame — tie
    * handling identical), with [[graft.queries.LogQueries.lSliding]]'s
    * plain-window DuckDB oracle the standing differential proof.
    * Output: input columns + `avg_1h`-style `outName` (plain DOUBLE;
    * caller rounds).
    *
    * Null-timestamp contract: rows with `ts IS NULL` are EXCLUDED,
    * explicitly (the bucketing arithmetic has no home bucket for them;
    * the plain window would instead order them first with a degenerate
    * frame) — so the documented bit-identity holds over the non-null-ts
    * rows, and null-ts rows are dropped loudly here rather than
    * silently by a null-bucket equality.
    */
  def slidingAvgScalable(events: DataFrame, part: Column, valueCol: Column,
                         windowMs: Long, outName: String): DataFrame = {
    val reserved = events.columns.toSet.intersect(Set("__t", "__c", "__home", "__rb"))
    require(reserved.isEmpty,
      s"slidingAvgScalable: input already has reserved column(s) ${reserved.mkString(", ")}")
    val w = Window.partitionBy(part, col("__rb"))
      .orderBy(col("__t")).rangeBetween(-windowMs, Window.currentRow)
    events
      .where(col("ts").isNotNull)
      .withColumn("__t", unix_millis(col("ts")))
      .withColumn("__c", round(valueCol * 100).cast("bigint"))
      .withColumn("__home", expr(s"__t DIV $windowMs"))
      .withColumn("__rb", explode(array(col("__home"), col("__home") + 1)))
      .withColumn(outName, sum(col("__c")).over(w) /
        (count(lit(1)).over(w) * 100.0))
      .where(col("__rb") === col("__home"))
      .drop("__t", "__c", "__home", "__rb")
  }

  def slidingAvg(events: DataFrame, part: Column, valueCol: Column, windowMs: Long): Column = {
    // order by epoch millis derived from ts directly — no hidden
    // precondition of a pre-computed ts_ms column
    val w = Window.partitionBy(part).orderBy(unix_millis(col("ts")))
      .rangeBetween(-windowMs, Window.currentRow)
    val cents = round(valueCol * 100).cast("bigint")
    sum(cents).over(w) / (count(lit(1)).over(w) * 100.0)
  }

  /** Gaps-and-islands sessionization: a new session starts when the gap
    * to the previous event of the same key exceeds `gapMs` (batch twin of
    * streaming `session_window`). One shuffle on the key; the running sum
    * is computed within each sorted partition.
    */
  def sessionize(events: DataFrame, key: Column, gapMs: Long,
                 order: Seq[Column] = Seq(col("ts"), col("event_id"))): DataFrame = {
    val wOrd  = Window.partitionBy(key).orderBy(order: _*)
    val prevMs = lag(unix_millis(col("ts")), 1).over(wOrd)
    val isBreak = when(prevMs.isNull, lit(0))
      .when(unix_millis(col("ts")) - prevMs > gapMs, lit(1))
      .otherwise(lit(0))
    events
      .withColumn("brk", isBreak)
      .withColumn("session_id",
        sum(col("brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("bigint"))
      .drop("brk")
  }

  /** Top-k values of `dim` by count. Spark plans the global phase as
    * TakeOrderedAndProject over the (tiny) aggregated set — no full sort.
    */
  def topK(events: DataFrame, dim: Column, k: Int): DataFrame =
    events.groupBy(dim.as("dim")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("dim"))
      .limit(k)

  /** Top-k via the mergeable Misra-Gries sketch
    * ([[graft.functions.MisraGries]]) — the 100 TB twin of [[topK]].
    * Exact top-k shuffles one row per DISTINCT key; the sketch shuffles
    * one bounded `capacity`-counter summary per partition, independent
    * of key cardinality. With `capacity` at least the distinct-key
    * count the result is exact (no decrement ever fires), which is the
    * shared-oracle contract of `l_topk_sketch`; beyond that the counts
    * are underestimates by at most n/(capacity+1) and every key above
    * that frequency is guaranteed present.
    */
  def topKSketch(events: DataFrame, dim: Column, k: Int, capacity: Int): DataFrame = {
    // NULL dims count as their own group in the exact twin, but a Map
    // buffer can't hold a null key — sentinel-prefix the key space
    // ("v"+value / "n" for null, the StatefulRate discipline) and strip
    // it back after the explode so the twin contract holds on nullable
    // dims too
    val keyed = when(dim.isNull, lit("n")).otherwise(concat(lit("v"), dim))
    events.agg(
        udaf(new graft.functions.MisraGries(capacity)).apply(keyed).as("summary"))
      .select(explode(col("summary")).as("e"))
      .select(when(col("e._1") === "n", lit(null))
          .otherwise(expr("substring(e._1, 2)")).as("dim"),
        col("e._2").as("n"))
      .orderBy(col("n").desc, col("dim"))
      .limit(k)
  }

  /** Exact + approximate (HLL) distinct users per dimension. At 100 TB
    * prefer the HLL column: it partial-aggregates to a fixed-size sketch
    * instead of shuffling every distinct key occurrence.
    */
  def distinctUsers(events: DataFrame, dim: Column, user: Column): DataFrame =
    events.groupBy(dim.as("dim"))
      .agg(count_distinct(user).as("n_exact"),
           approx_count_distinct(user).as("n_approx"))

  /** Sketch resolution shared by every approximate-percentile surface
    * (this operator and the DSL's percentile(approx=true)): relative
    * rank error ≤ 1/accuracy. One policy constant so the two can't
    * drift apart.
    */
  val ApproxPercentileAccuracy = 10000

  /** The EXACT-REGIME sketch accuracy (the l_percentile_sketch
    * surface). It MUST exceed the largest group's row count — that is
    * what keeps the Greenwald–Khanna summary uncompressed, hence exact,
    * hence able to share the exact twin's `quantile_disc` oracle. A
    * corpus whose largest group outgrows it needs a larger constant
    * (the sketch stays correct-as-a-sketch either way; only the
    * EXACTNESS claim, and with it the shared oracle, needs the bound).
    * 2^20 covers sf0.1's ~20k-row groups ~50×; LogAnalyticsSpec asserts
    * the bound against the gate fixtures so a larger fixture fails
    * loudly instead of hash-mismatching.
    */
  val SKETCH_EXACT_ACCURACY: Int = 1 << 20

  // the one grouped-percentile shape both twins share: detRound4 (not
  // round(): cross-engine rounding convention — engine round() semantics
  // differ on edge doubles vs the DuckDB oracle), p*100 column names,
  // one hash aggregate per dim
  private def pctByDim(events: DataFrame, dim: Column, ps: Seq[Double],
                       agg: Double => Column): DataFrame = {
    val aggs = ps.map(p => graft.functions.Det
      .detRound4(agg(p)).as(s"p${(p * 100).toInt}"))
    events.groupBy(dim.as("dim")).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact interpolated percentiles of `v` per dimension (DuckDB
    * `quantile_cont` twin). Spark's `percentile` aggregate holds every
    * value of a group in its merge buffer on one reducer — fastest at
    * bounded group volume; at 100 TB pick by value type: discrete-ish
    * metrics (integers, fixed-decimal latencies) →
    * [[percentilesByCounts]] (still exact); continuous doubles →
    * `percentile_approx` ([[percentilesApprox]]).
    */
  def percentiles(events: DataFrame, dim: Column, v: Column, ps: Seq[Double]): DataFrame =
    pctByDim(events, dim, ps, p => percentile(v, lit(p)))

  /** EXACT interpolated percentiles from value COUNTS — result-identical
    * to [[percentiles]] (same lerp, bit-for-bit), different scale shape.
    * The `percentile` aggregate concentrates every value of a group in
    * ONE reducer's in-memory merge buffer. Here instead:
    *
    *  1. `groupBy(dim, v).count` — duplicates collapse MAP-SIDE in the
    *     partial hash aggregate and the exchange is over (dim, value),
    *     which AQE can split; the reducer sees distinct values only;
    *  2. one spillable window pass over the distinct-value relation
    *     (partitioned by dim, sorted by value) attaches cumulative and
    *     total counts — a Tungsten sort that SPILLS where the buffer
    *     aggregate OOMs;
    *  3. a final per-dim aggregate picks the two order statistics
    *     around each target rank and lerps exactly as Spark's
    *     `Percentile.getPercentile` does: `pos = p·(n−1)`, result =
    *     `(ceil(pos)−pos)·lo + (pos−floor(pos))·hi` — the value at
    *     0-indexed multiset rank r is the first value with
    *     cumulative count > r.
    *
    * Per-dim reducer volume is DISTINCT-value cardinality, not row
    * count: exact at any corpus size for integer/fixed-decimal metrics
    * (sizes, millisecond latencies, counts). For genuinely continuous
    * doubles distinct ≈ rows and [[percentilesApprox]] is the plan.
    * NULL values are excluded (and an all-null group yields NULL), as
    * the `percentile` aggregate does; null dims group as themselves.
    */
  def percentilesByCounts(events: DataFrame, dim: Column, v: Column,
                          ps: Seq[Double]): DataFrame = {
    val counts = events.groupBy(dim.as("dim"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
    // null-value rows ride along with weight 0 so a dim whose values
    // are ALL null still surfaces (with NULL percentiles, like the
    // buffer aggregate); nulls sort first so they never displace cum
    val nn = when(col("__v").isNotNull, col("__c")).otherwise(lit(0L))
    val wCum = Window.partitionBy("dim").orderBy(col("__v").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counts
      .withColumn("__cum", sum(nn).over(wCum))
      .withColumn("__n", sum(nn).over(Window.partitionBy("dim")))
    def pos(p: Double): Column = lit(p) * (col("__n") - lit(1)).cast("double")
    val ordStats = ps.zipWithIndex.flatMap { case (p, i) => Seq(
      min(when(col("__v").isNotNull && col("__cum") > floor(pos(p)),
        col("__v"))).as(s"__lo$i"),
      min(when(col("__v").isNotNull && col("__cum") > ceil(pos(p)),
        col("__v"))).as(s"__hi$i"))
    }
    // groupBy(dim) directly above the dim-partitioned window: no third
    // exchange — the aggregate reuses the window's partitioning
    val agg = ranked.groupBy("dim")
      .agg(max(col("__n")).as("__n"), ordStats: _*)
    val outCols = col("dim") +: ps.zipWithIndex.map { case (p, i) =>
      val po = pos(p)
      val res = when(col("__n") === 0, lit(null).cast("double"))
        .when(ceil(po) === floor(po), col(s"__lo$i"))
        .otherwise((ceil(po) - po) * col(s"__lo$i") +
          (po - floor(po)) * col(s"__hi$i"))
      graft.functions.Det.detRound4(res).as(s"p${(p * 100).toInt}")
    }
    agg.select(outCols: _*)
  }

  /** Approximate percentiles per dimension — the 100 TB twin of
    * [[percentiles]]. The exact `percentile` aggregate's merge buffer
    * holds EVERY distinct value of the group; with continuous doubles
    * and few groups that is ~corpus-sized on one reducer at scale.
    * `percentile_approx` instead keeps a FIXED-SIZE mergeable quantile
    * summary (Greenwald–Khanna) per group: partials are sketch-sized,
    * combine map-side, and merge associatively on the reducer — the
    * same partial-aggregate shape that makes approx_count_distinct the
    * scale plan for [[distinctUsers]]. Error is bounded by 1/accuracy
    * relative rank. Approximate by design → no cross-engine hash
    * oracle; callers declare it rows-only (the q_approx precedent).
    */
  def percentilesApprox(events: DataFrame, dim: Column, v: Column,
                        ps: Seq[Double],
                        accuracy: Int = ApproxPercentileAccuracy): DataFrame =
    pctByDim(events, dim, ps, p => percentile_approx(v, lit(p), lit(accuracy)))

  /** Keep-first dedup: first event per key set by (ts, tiebreak) order —
    * the deterministic batch twin of streaming
    * `dropDuplicatesWithinWatermark`. Single window shuffle on the keys.
    */
  def dedupKeepFirst(events: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    events.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** Ordered-funnel analysis with a per-step conversion window: per
    * key, stage i counts only when it happens strictly AFTER the key's
    * stage-(i−1) completion AND within `stepWindowMs` of it (the
    * product-analytics "view → click within a day → purchase within a
    * day" question — without the bound the funnel saturates on any
    * long-lived log). One shuffle: every stage timestamp is a
    * conditional-min window over the same key partitioning, each
    * depending on the previous stage's column, so Catalyst stacks the
    * Window nodes on ONE exchange (no per-stage self-joins). Millisecond
    * integer arithmetic on both engines (unix_millis / epoch_ms both
    * truncate), so the window comparison is exact. Output is a per-key
    * stage vector; callers aggregate to the funnel table.
    */
  def funnelStages(events: DataFrame, key: Column, ts: Column,
                   stageOf: Column, stages: Seq[String],
                   stepWindowMs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col("k"))
    val base = events.select(key.as("k"),
      unix_millis(ts).as("t"), stageOf.as("st"))
    stages.zipWithIndex.foldLeft(base) { case (df, (stage, i)) =>
      val cond =
        if (i == 0) col("st") === stage
        else col("st") === stage && col(s"t${i - 1}").isNotNull &&
          col("t") > col(s"t${i - 1}") &&
          col("t") - col(s"t${i - 1}") <= stepWindowMs
      df.withColumn(s"t$i", min(when(cond, col("t"))).over(w))
    }
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        stages.indices.map(i => max(col(s"t$i")).as(s"s$i")): _*)
  }

  /** Event-transition matrix (the first-order Markov view of a log):
    * per key, consecutive event pairs in (ts, tiebreak) order →
    * (from, to) counts. One shuffle for the lead window; the count
    * aggregate reuses nothing corpus-sized.
    */
  def transitions(events: DataFrame, key: Column, ts: Column,
                  tieBreak: Column, typeCol: Column): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("tb"))
    events.select(key.as("k"), ts.as("t"), tieBreak.as("tb"),
        typeCol.as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Late-data policy replay (batch twin of `withWatermark`): drop events
    * more than `latenessMs` behind the running max event-time of their
    * partition, in arrival (offset) order.
    */
  def dropLate(events: DataFrame, part: Column, arrivalOrder: Column, latenessMs: Long): DataFrame = {
    val w = Window.partitionBy(part).orderBy(arrivalOrder)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("max_ts_ms", max(unix_millis(col("ts"))).over(w))
      .where(unix_millis(col("ts")) >= col("max_ts_ms") - latenessMs)
      .drop("max_ts_ms")
  }
}
