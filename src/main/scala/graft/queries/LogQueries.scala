package graft.queries

import graft.Tables
import graft.operators.LogAnalytics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3-B — log-analytics queries over `events`, each with a DuckDB oracle.
  * Same determinism contract as [[ConnectorQueries]]: BIGINT/DOUBLE/VARCHAR
  * outputs, rounded floats, total ORDER BY.
  */
object LogQueries {

  def lTimechart(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.timechart(Tables.events(s, dir), "hour", col("event_type"))
      .withColumnRenamed("dim", "event_type")
      .orderBy("bucket_ms", "event_type")

  def lSliding(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.slidingAvgScalable(Tables.events(s, dir),
        col("event_type"), col("value"), 3600000L, "raw_avg")
      .select(col("event_id"),
        ConnectorQueries.detRound4(col("raw_avg")).as("avg_1h"))
      .orderBy("event_id")

  def lSession(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.sessionize(Tables.events(s, dir), col("user_id"), 1800000L)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"))
      .orderBy("user_id", "session_id")

  def lTopk(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.topK(Tables.events(s, dir), col("event_type"), 3)
      .withColumnRenamed("dim", "event_type")

  /** Misra-Gries capacity for [[lTopkSketch]] — the exactness-regime
    * bound: counts are exact (and the shared l_topk oracle valid) only
    * while distinct `event_type` stays under it. Audited in
    * [[graft.CapAudit]]; CapAuditSpec asserts the gate fixtures sit
    * inside the regime.
    */
  val TOPK_SKETCH_CAP = 1024

  /** Sketch twin of [[lTopk]]: Misra-Gries with capacity
    * [[TOPK_SKETCH_CAP]] ≫ the event-type cardinality, so counts are
    * exact and the twin shares l_topk's oracle — while the PLAN is the
    * one that survives a high-cardinality dim at 100 TB (bounded
    * summary per partition on the wire, not one row per distinct key).
    */
  def lTopkSketch(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.topKSketch(Tables.events(s, dir), col("event_type"), 3,
      TOPK_SKETCH_CAP)
      .withColumnRenamed("dim", "event_type")

  def lDistinct(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.distinctUsers(Tables.events(s, dir), col("event_type"), col("user_id"))
      .withColumnRenamed("dim", "event_type")
      .drop("n_approx") // HLL twin not oracle-comparable; exercised in tests
      .orderBy("event_type")

  def lPercentile(s: SparkSession, dir: String): DataFrame =
    lPercentileBy(LogAnalytics.percentiles, s, dir)

  private def lPercentileBy(
      exact: (DataFrame, Column, Column, Seq[Double]) => DataFrame,
      s: SparkSession, dir: String): DataFrame =
    exact(Tables.events(s, dir), col("event_type"), col("value"), Seq(0.5, 0.9, 0.99))
      .withColumnRenamed("dim", "event_type")
      .orderBy("event_type")

  /** Approximate-percentile twin of [[lPercentile]]
    * ([[LogAnalytics.percentilesApprox]]): the mergeable-sketch plan
    * that replaces the exact aggregate at 100 TB (fixed-size
    * Greenwald–Khanna partials vs every-distinct-value merge buffers on
    * one reducer). Approximate by design → rows-only correctness entry
    * (the q_approx precedent); the exact twin stays hash-verified.
    */
  def lPercentileApprox(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.percentilesApprox(Tables.events(s, dir), col("event_type"),
        col("value"), Seq(0.5, 0.9, 0.99))
      .withColumnRenamed("dim", "event_type")
      .orderBy("event_type")

  /** [[lPercentileApprox]] in the sketch's EXACT regime — the
    * [[lTopkSketch]] discipline applied to quantiles: with `accuracy`
    * above every group's row count the Greenwald–Khanna summary never
    * compresses, so `percentile_approx` returns the exact discrete
    * quantile (an actual data element at the target rank) and the query
    * earns a full cross-engine oracle — DuckDB's `quantile_disc`, the
    * same pick convention (verified element-equal at sf0.01 AND sf0.1).
    * This hash-proves the sketch MACHINERY (partial build, merge,
    * query) against an independent engine; the default-accuracy twin
    * [[lPercentileApprox]] stays rows-only because at 100 TB the
    * summary genuinely compresses — same operator, the regime is the
    * declared difference.
    */
  def lPercentileSketch(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.percentilesApprox(Tables.events(s, dir), col("event_type"),
        col("value"), Seq(0.5, 0.9, 0.99),
        // the exact-regime claim holds only while accuracy exceeds the
        // largest group — see SKETCH_EXACT_ACCURACY
        accuracy = LogAnalytics.SKETCH_EXACT_ACCURACY)
      .withColumnRenamed("dim", "event_type")
      .orderBy("event_type")

  /** [[lPercentile]] under the counts-mode EXACT plan
    * ([[LogAnalytics.percentilesByCounts]]): duplicates collapse in a
    * map-side partial aggregate and the reducer holds distinct values
    * in a spillable sort, instead of every value in one in-memory merge
    * buffer. Declared as a query twin SHARING [[lPercentile]]'s oracle —
    * the correctness gate hash-proves the two exact modes
    * result-identical on the real corpus (the `_skewjoin` discipline).
    */
  def lPercentileCounts(s: SparkSession, dir: String): DataFrame =
    lPercentileBy(LogAnalytics.percentilesByCounts, s, dir)

  def lDedup(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.dedupKeepFirst(Tables.events(s, dir),
        Seq(col("user_id"), col("event_type")),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type")

  def lLate(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.dropLate(Tables.events(s, dir),
        (col("user_id") % 4).cast("bigint"), col("event_id"), 600000L)
      .select("event_id")
      .orderBy("event_id")

  /** Anomalous timechart buckets — hourly per-type counts more than two
    * standard deviations from their series mean (the alerting primitive
    * over any timechart). Mean/variance derive EXPLICITLY from integer
    * sum/sum-of-squares/count window aggregates so the 2σ boundary is
    * the same IEEE double in Spark and the oracle (a builtin stddev
    * would pair Welford against the naive formula and disagree in the
    * last ulp exactly at the cut). Squared comparison — no sqrt. The
    * windows run over the bounded bucket relation.
    */
  def lAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = LogAnalytics.timechart(Tables.events(s, dir), "hour", col("event_type"))
      .withColumnRenamed("dim", "event_type")
    val w = Window.partitionBy("event_type")
    val cnt = count(lit(1)).over(w).cast("double")
    b.withColumn("mean", sum(col("n")).over(w).cast("double") / cnt)
      .withColumn("varr",
        sum(col("n") * col("n")).over(w).cast("double") / cnt -
          col("mean") * col("mean"))
      .where((col("n").cast("double") - col("mean")) *
        (col("n").cast("double") - col("mean")) > lit(4.0) * col("varr"))
      .select(col("bucket_ms"), col("event_type"), col("n"),
        ConnectorQueries.detRound4(col("mean")).as("series_mean"),
        ConnectorQueries.detRound4(col("varr")).as("series_var"))
      .orderBy("bucket_ms", "event_type")
  }

  /** MAD-based robust anomaly detection — [[lAnomaly]]'s 2σ cut breaks
    * when the outliers THEMSELVES inflate the variance; the
    * median-absolute-deviation cut (|n − median| > 3·MAD) is the
    * standard robust alternative. Two grouped medians over the bounded
    * bucket relation joined back broadcast — and because every median
    * here is a median of INTEGER counts, med/MAD are exact integers or
    * halves: the 3·MAD comparison is exact IEEE arithmetic on both
    * engines, no rounding hazard at the cut.
    */
  def lMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = LogAnalytics.timechart(Tables.events(s, dir), "hour", col("event_type"))
      .withColumnRenamed("dim", "event_type")
    // the lAnomaly shape: per-series stats as window aggregates over
    // the bounded bucket relation — med then mad are two Window passes
    // over ONE series exchange, no joins, no rescan of the bucket agg
    val w = Window.partitionBy("event_type")
    b.withColumn("med", percentile(col("n"), lit(0.5)).over(w))
      .withColumn("ad", abs(col("n").cast("double") - col("med")))
      .withColumn("mad", percentile(col("ad"), lit(0.5)).over(w))
      .where(col("ad") > lit(3.0) * col("mad"))
      .select(col("bucket_ms"), col("event_type"), col("n"),
        ConnectorQueries.detRound4(col("med")).as("series_med"),
        ConnectorQueries.detRound4(col("mad")).as("series_mad"))
      .orderBy("bucket_ms", "event_type")
  }

  /** SLO error-budget knobs: the budget is the allowed error RATE (the
    * fixture's base error share is ~0.20, so 0.21 makes genuine
    * elevated hours burn), and the SRE multiwindow rule alerts only
    * when BOTH the fast window (1 bucket) and the slow window (6
    * buckets) burn — a single noisy hour inside a quiet stretch stays
    * silent. 109 alert rows at sf0.01, 8 at sf0.1.
    */
  val SLO_BUDGET = 0.21
  val BURN_FAST = 1.2
  val BURN_SLOW = 1.05
  // one literal, spliced into BOTH engines (0.21 + 0.04 would be a
  // different double than 0.25)
  val DEBOUNCE_RATE = 0.25
  val HOUR_MS = 3600000L

  /** Hourly (bucket_ms, n_total, n_err) — the shared base of the SRE
    * pair ([[lBurnRate]], [[lDebounce]]): one map-side-combining
    * aggregate over the corpus; everything after runs on the bounded
    * bucket relation.
    */
  private def hourlyErrors(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy((floor(unix_millis(col("ts")) / HOUR_MS) * HOUR_MS)
        .cast("long").as("bucket_ms"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))

  /** SRE multiwindow burn-rate alert: per hour, the error rate over the
    * budget (burn1) and the trailing-6-hour rate over the budget
    * (burn6 — rate of SUMS, not mean of rates: the window's own error
    * rate); alert rows are hours where both windows burn. The rolling
    * sums ride one global window over the BOUNDED bucket relation (720
    * rows — single-partition is the right plan for a bounded series;
    * the corpus-sized work all happened in the one aggregate).
    * Verdicts are exact cross-engine: both engines evaluate the
    * identical division chain on identical integers.
    */
  def lBurnRate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bucket_ms").rowsBetween(-5, 0)
    val burn1 = (col("n_err").cast("double") / col("n_total").cast("double")) /
      lit(SLO_BUDGET)
    hourlyErrors(s, dir)
      .withColumn("e6", sum("n_err").over(w))
      .withColumn("t6", sum("n_total").over(w))
      .withColumn("burn1", burn1)
      .withColumn("burn6",
        (col("e6").cast("double") / col("t6").cast("double")) / lit(SLO_BUDGET))
      .where(col("burn1") > BURN_FAST && col("burn6") > BURN_SLOW)
      .select(col("bucket_ms"), col("n_err"), col("n_total"),
        ConnectorQueries.detRound4(col("burn1")).as("burn1"),
        ConnectorQueries.detRound4(col("burn6")).as("burn6"))
      .orderBy("bucket_ms")
  }

  /** Apdex "satisfied" latency threshold; tolerating runs to 4T (the
    * published Apdex convention). T = 25 sits at ~P40 of the fixture's
    * value distribution, so all three bands are populated every hour.
    */
  val APDEX_T = 25.0

  /** Hourly Apdex score (the Apdex Alliance formula, the standard
    * user-satisfaction rollup SRE dashboards publish next to burn
    * rate): score = (satisfied + tolerating/2) / total per hour, with
    * satisfied = value ≤ T and tolerating = T < value ≤ 4T. One
    * scan + one hash aggregate on the hour key — the [[lBurnRate]]
    * shape; band membership is computed BEFORE the aggregate so the
    * map side combines, and the score divides two exact integer counts
    * once per bucket (no float accumulation to diverge cross-engine).
    */
  def lApdex(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy((floor(unix_millis(col("ts")) / HOUR_MS) * HOUR_MS)
        .cast("long").as("bucket_ms"))
      .agg(count(lit(1)).as("n_total"),
        sum((col("value") <= APDEX_T).cast("long")).as("n_sat"),
        sum((col("value") > APDEX_T && col("value") <= 4 * APDEX_T)
          .cast("long")).as("n_tol"))
      .select(col("bucket_ms"), col("n_total"), col("n_sat"), col("n_tol"),
        ConnectorQueries.detRound4(
          (col("n_sat").cast("double") + col("n_tol").cast("double") / 2) /
            col("n_total").cast("double")).as("apdex"))
      .orderBy("bucket_ms")

  /** Alert DEBOUNCING: consecutive over-budget hours collapse into one
    * alert episode (gaps-and-islands on the bucket grid — a new episode
    * starts when the previous flagged hour is more than one bucket
    * back), reported as (start, end, n_buckets, peak_rate). The page a
    * human gets instead of 6 pages for one incident. Same bounded-
    * relation shape as [[lBurnRate]].
    */
  def lDebounce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.orderBy("bucket_ms")
    val rate = col("n_err").cast("double") / col("n_total").cast("double")
    hourlyErrors(s, dir)
      .withColumn("rate", rate)
      .where(col("rate") > DEBOUNCE_RATE)
      .withColumn("ni",
        when(lag("bucket_ms", 1).over(wo).isNull ||
          col("bucket_ms") - lag("bucket_ms", 1).over(wo) > HOUR_MS, 1L)
          .otherwise(0L))
      .withColumn("ep", sum("ni").over(
        wo.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("ep")
      .agg(min("bucket_ms").as("start_ms"), max("bucket_ms").as("end_ms"),
        count(lit(1)).as("n_buckets"),
        ConnectorQueries.detRound4(max(col("rate"))).as("peak_rate"))
      .select("start_ms", "end_ms", "n_buckets", "peak_rate")
      .orderBy("start_ms")
  }

  /** EWMA truncation depth and warm-up; α = 1/2 so every weight is an
    * exact power of two — the smoothed state times 2^32 is an INTEGER
    * (Σ n_{t−j}·2^(31−j) over the last 32 buckets), making the whole
    * detector order-independent and bit-equal cross-engine with no
    * floating accumulation at all. Spike rule: n > 3/2 · ewma_prev,
    * compared as 2·n·2^32 > 3·sq_prev in integers.
    */
  val EWMA_LAGS = 32
  val EWMA_WARMUP = 4
  val EWMA_Q = 1L << 32

  /** EWMA spike detector over per-type hourly event counts — the
    * smoothed-baseline anomaly alert next to [[lBurnRate]]'s SLO view:
    * a bucket fires when its count exceeds 1.5× the previous bucket's
    * exponentially-weighted average (truncated at [[EWMA_LAGS]] row
    * lags, zero pre-history, [[EWMA_WARMUP]] warm-up buckets skipped).
    * The per-type bucket series is bounded (hours of retention), so the
    * partitioned window is the right plan at any corpus width.
    */
  def lEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        (floor(unix_millis(col("ts")) / HOUR_MS) * HOUR_MS)
          .cast("long").as("bucket_ms"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("bucket_ms")
    val sq = (0 until EWMA_LAGS).map(j =>
      coalesce(lag(col("n_events"), j).over(w), lit(0L)) * lit(1L << (31 - j)))
      .reduce(_ + _)
    hourly
      // materialize sq BEFORE lagging it — a lag OF a window expression
      // would nest window functions, which Spark rejects
      .withColumn("sq", sq)
      .withColumn("sq_prev", lag(col("sq"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") > EWMA_WARMUP && col("sq_prev") > 0 &&
        col("n_events") * lit(2L) * EWMA_Q > col("sq_prev") * lit(3L))
      .select(col("event_type"), col("bucket_ms"), col("n_events"),
        ConnectorQueries.detRound4(col("sq_prev").cast("double") / EWMA_Q)
          .as("ewma_prev"),
        ConnectorQueries.detRound4(col("n_events").cast("double") * EWMA_Q /
          col("sq_prev").cast("double")).as("ratio"))
      .orderBy("event_type", "bucket_ms")
  }

  /** Error-bound audit of [[lPercentileApprox]] — the rank-error
    * bracket that makes the rows-only default-accuracy sketch
    * auditable. Greenwald–Khanna guarantees the returned element's
    * rank within ε·n of the target (ε = 1/accuracy, default 10000);
    * Spark computes each estimate's true rank interval
    * [count(value < est)+1, count(value ≤ est)] per group and asserts
    * it intersects [⌈p·n⌉ − ⌊n/10000⌋ − 1, ⌈p·n⌉ + ⌊n/10000⌋ + 1]
    * (±1 slack for the discrete pick) — all integer arithmetic. The
    * oracle replays (event_type, pct, n) exactly and pins
    * within_bound = 1: a sketch regression fails the hash gate instead
    * of hiding behind the rows-only twin. Scale shape: one aggregate
    * for the |types|·3 estimate relation (broadcast), one streaming
    * corpus pass for the ranks.
    */
  def lPctileApproxErr(s: SparkSession, dir: String): DataFrame = {
    val pcts = Seq(50, 90, 99)
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val ests = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(pcts.map(p => lit(p / 100.0)): _*), lit(10000)).as("ests"))
      .select(col("event_type"), posexplode(col("ests")))
      .select(col("event_type"),
        element_at(array(pcts.map(p => lit(p.toLong)): _*), col("pos") + 1)
          .as("pct"),
        col("col").as("est"))
    ev.join(broadcast(ests), "event_type")
      .groupBy("event_type", "pct")
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("est")).cast("long")).as("rlo"),
        sum((col("value") <= col("est")).cast("long")).as("rhi"))
      .withColumn("target", expr("(pct * n + 99) DIV 100"))
      .withColumn("eps", expr("n DIV 10000"))
      .select(col("event_type"), col("pct"), col("n"),
        (!(col("rhi") < col("target") - col("eps") - 1 ||
          col("rlo") + 1 > col("target") + col("eps") + 1))
          .cast("bigint").as("within_bound"))
      .orderBy("event_type", "pct")
  }

  /** Outlier-robust telemetry aggregates — winsorized and trimmed
    * means per event type at the [p5, p95] fences: the robust-location
    * numbers an SLO dashboard prefers when a handful of pathological
    * values would drag a plain mean. Scale shape: one bounded
    * per-group threshold aggregate (broadcast — NO per-group window
    * over the corpus), then one streaming pass clamps/filters.
    * Exactness: thresholds detRound4 on BOTH engines (Spark lerps
    * (1−d)·lo + d·hi, DuckDB lo + d·(hi−lo) — algebraically equal,
    * not bit-equal; round4 is the established x_lp_buckets
    * discipline), then all comparisons and sums in round(·10⁴)
    * integer space (2-decimal fixture values and 4-decimal fences are
    * both exact there), one double division per output.
    */
  def lWinsor(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val th = ev.groupBy("event_type").agg(
      ConnectorQueries.detRound4(percentile(col("value"), lit(0.05))).as("p5"),
      ConnectorQueries.detRound4(percentile(col("value"), lit(0.95))).as("p95"))
    ev.join(broadcast(th), "event_type")
      .withColumn("q", round(col("value") * 10000).cast("long"))
      .withColumn("lo", round(col("p5") * 10000).cast("long"))
      .withColumn("hi", round(col("p95") * 10000).cast("long"))
      .withColumn("wq", least(greatest(col("q"), col("lo")), col("hi")))
      .withColumn("inq", (col("q") >= col("lo") && col("q") <= col("hi")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("p5").as("p5"), max("p95").as("p95"),
        sum("q").as("sq"), sum("wq").as("swq"),
        sum(col("q") * col("inq")).as("stq"), sum("inq").as("nt"))
      .select(col("event_type"), col("n"), col("p5"), col("p95"),
        ConnectorQueries.detRound4(col("sq").cast("double") / (col("n") * 10000.0))
          .as("mean"),
        ConnectorQueries.detRound4(col("swq").cast("double") / (col("n") * 10000.0))
          .as("winsor_mean"),
        ConnectorQueries.detRound4(when(col("nt") === 0, lit(0.0))
          .otherwise(col("stq").cast("double") / (col("nt") * 10000.0)))
          .as("trim_mean"),
        col("nt").as("n_kept"))
      .orderBy("event_type")
  }

  /** Drift-monitor window width: 1 day of events per score. */
  val DRIFT_WIN_MS = 86400000L

  /** Per-window distribution drift of the event-type mix vs the
    * whole-log reference — the batch face of
    * [[graft.operators.Drift]] (scoring pinned by DriftStreamSpec):
    * smoothed KL both directions + total variation
    * per 1-day window over the closed reference bin universe
    * (top-[[graft.operators.Drift.REF_K]] bins + OOV lump). ONE corpus
    * aggregate — the reference derives from a re-aggregate of the
    * staged per-window counts, and everything downstream is
    * |windows|·|bins| bounded.
    */
  def lDriftWindow(s: SparkSession, dir: String): DataFrame = {
    val cnt = graft.operators.Scale.stage(
      Tables.events(s, dir)
        .groupBy((expr(s"unix_millis(ts) DIV $DRIFT_WIN_MS") * DRIFT_WIN_MS)
          .as("wstart"), col("event_type").as("bin"))
        .agg(count(lit(1)).as("c0")))
    val ref = graft.operators.Drift.refBinsFromCounts(
      cnt.groupBy("bin").agg(sum("c0").as("c")))
    // windowDrift's contract wants bins pre-mapped into the reference
    // universe: event_type cardinality is ≪ REF_K today so the mapping
    // is the identity, but an unmapped tail bin would inflate n0 while
    // dropping off the ref grid — the score would silently stop being
    // the documented smoothed KL
    graft.operators.Drift.windowDrift(
      graft.operators.Drift.mapCountsToRef(cnt, ref), ref).orderBy("wstart")
  }

  /** Drift→ACTION: the gate that [[lDriftWindow]]'s monitor only
    * alarms on — per-window drift scores feed
    * [[graft.operators.Drift.driftVerdicts]]' relative 2σ outlier
    * test, and the verdict is APPLIED to the ingest: a quarantined
    * window's whole mass drops (the whole-window analogue of
    * [[graft.queries.PipelineQueries.xCurateSourced]]'s source drop;
    * the verdict is pinned by DriftGateSpec).
    * Output per window: score, verdict, and the kept ingest mass
    * (row + distinct-user counts — 0 for quarantined windows). Scale:
    * the drift relation is |windows|·(REF_K+1) bounded, the verdict
    * stats are one global aggregate over it, and the mass is one
    * unconditional corpus aggregate zeroed by the verdict on the
    * bounded relation — two corpus passes total, no corpus-row join. On the uniform fixture the verdict
    * is honestly data-driven (sampling noise alone can trip the 2σ
    * tail); DriftGateSpec proves a planted poisoned window trips it.
    */
  def xDriftGate(s: SparkSession, dir: String): DataFrame = {
    val cnt = graft.operators.Scale.stage(
      Tables.events(s, dir)
        .groupBy((expr(s"unix_millis(ts) DIV $DRIFT_WIN_MS") * DRIFT_WIN_MS)
          .as("wstart"), col("event_type").as("bin"))
        .agg(count(lit(1)).as("c0")))
    val ref = graft.operators.Drift.refBinsFromCounts(
      cnt.groupBy("bin").agg(sum("c0").as("c")))
    val v = graft.operators.Drift.driftVerdicts(
      graft.operators.Drift.windowDrift(
        graft.operators.Drift.mapCountsToRef(cnt, ref), ref))
    // per-window ingest mass computed UNCONDITIONALLY (one corpus
    // aggregate) and zeroed by the verdict on the bounded |windows|
    // relation — same output as semi-joining the raw events against
    // the passing-window list, without a third corpus pass
    val mass = Tables.events(s, dir)
      .select((expr(s"unix_millis(ts) DIV $DRIFT_WIN_MS") * DRIFT_WIN_MS)
        .as("wstart"), col("user_id"))
      .groupBy("wstart")
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("user_id")).as("n_users"))
    v.join(mass, Seq("wstart"), "left")
      .na.fill(0L, Seq("n_rows", "n_users"))
      .select(col("wstart"), col("n0"), col("kl_wr"), col("quarantined"),
        when(col("quarantined") === 1, lit(0L)).otherwise(col("n_rows"))
          .as("n_kept"),
        when(col("quarantined") === 1, lit(0L)).otherwise(col("n_users"))
          .as("n_users_kept"))
      .orderBy("wstart")
  }

  /** Fixed-width value histogram per event type — the latency-histogram
    * panel: one hash aggregate, bin = floor(value/100); integer binning
    * is exact on both engines (no percentile machinery, no sort until
    * the bounded output).
    */
  def lHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        floor(col("value") / 100).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")

  /** Cohort retention: users bucketed by FIRST-seen day, counted on
    * each later active day as an offset — the activation/retention
    * triangle. Two aggregates whose keys are bounded (users, then
    * cohort×offset cells) and one equi-join on user_id; day arithmetic
    * is integer-exact on both engines.
    */
  def lRetention(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = days.groupBy("user_id").agg(min("d").as("cohort"))
    days.join(first, "user_id")
      .groupBy(col("cohort"),
        datediff(col("d"), col("cohort")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("day_offset").cast("bigint").as("day_offset"), col("n_users"))
      .orderBy("cohort", "day_offset")
  }

  /** Step window of the funnel: 1 day — discriminating on the fixture
    * (sf0.1: 1500 → 536 → 217 users), where an unbounded funnel
    * saturates.
    */
  val FUNNEL_STEP_MS = 86400000L

  /** Ordered funnel view → click → purchase with a 1-day per-step
    * conversion window ([[LogAnalytics.funnelStages]] — stacked
    * conditional-min windows on ONE user exchange, no per-stage
    * self-joins).
    */
  def lFunnel(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.funnelStages(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"),
        FUNNEL_STEP_MS)
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("s0").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("s1").isNotNull, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("s2").isNotNull, 1L).otherwise(0L)).as("n_purchase"))

  /** Time-to-convert distribution per funnel step — the latency view of
    * [[lFunnel]]: for users who converted a step within the window, the
    * p50/p90 of the step lag in integer milliseconds. Both steps emit
    * from ONE pass over the funnelStages relation (a per-row struct
    * array filtered non-null then exploded — a union of two filters
    * would recompute the window lineage twice, since column pruning
    * differentiates the subtrees and ReuseExchange never fires).
    */
  def lConversionLag(s: SparkSession, dir: String): DataFrame = {
    val st = LogAnalytics.funnelStages(Tables.events(s, dir), col("user_id"),
      col("ts"), col("event_type"), Seq("view", "click", "purchase"),
      FUNNEL_STEP_MS)
    st.select(explode(filter(array(
        when(col("s1").isNotNull,
          struct(lit("1_view_to_click").as("step"),
            (col("s1") - col("s0")).as("lag_ms"))),
        when(col("s2").isNotNull,
          struct(lit("2_click_to_purchase").as("step"),
            (col("s2") - col("s1")).as("lag_ms")))),
        x => x.isNotNull)).as("e"))
      .select(col("e.step").as("step"), col("e.lag_ms").as("lag_ms"))
      .groupBy("step")
      .agg(count(lit(1)).as("n_converted"),
        ConnectorQueries.detRound4(percentile(col("lag_ms"), lit(0.5))).as("p50_ms"),
        ConnectorQueries.detRound4(percentile(col("lag_ms"), lit(0.9))).as("p90_ms"))
      .orderBy("step")
  }

  /** First-order event-transition matrix ([[LogAnalytics.transitions]]):
    * consecutive per-user event pairs in (ts, event_id) order.
    */
  def lTransitions(s: SparkSession, dir: String): DataFrame =
    LogAnalytics.transitions(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))
      .orderBy("from_type", "to_type")

  /** SEASONAL-baseline anomaly: hourly buckets judged against the mean
    * of their own (series, hour-of-day) slot — the diurnal-pattern
    * removal [[lAnomaly]]'s global z-cut can't do (a nightly batch
    * spike is "normal at 02:00" but 3σ against the all-day mean).
    * Flag = count > 1.5× the slot baseline, tested in EXACT integers
    * (n·cnt·2 > 3·tot — no float mean crosses the filter), lift
    * reported 4-decimal-stabilized. Two one-exchange windows over the
    * bounded bucket relation.
    */
  def lSeasonal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = LogAnalytics.timechart(Tables.events(s, dir), "hour", col("event_type"))
      .withColumnRenamed("dim", "event_type")
      .withColumn("hod", ((col("bucket_ms") / 3600000L) % 24).cast("long"))
    val w = Window.partitionBy("event_type", "hod")
    b.withColumn("tot", sum("n").over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .where(col("n") * col("cnt") * 2L > lit(3L) * col("tot"))
      .select(col("bucket_ms"), col("event_type"), col("hod"), col("n"),
        ConnectorQueries.detRound4(
          col("n").cast("double") * col("cnt") / col("tot")).as("lift"))
      .orderBy("bucket_ms", "event_type")
  }

  /** Top opening paths: each user's first 5 event types in
    * (ts, event_id) order joined into a path string, counted across
    * users — the n-step journey mining l_transitions only sees one
    * step of. One sorted-struct aggregate per user (the series() /
    * linededup rebuild shape, no window) + one path count; ties cut
    * deterministically by (count desc, path asc).
    */
  def lPaths(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(concat_ws(" > ", transform(
        slice(array_sort(collect_list(struct(
          unix_micros(col("ts")).as("t"), col("event_id").as("i"),
          col("event_type").as("v")))), 1, 5),
        x => x("v"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l_funnel"     -> lFunnel _,
    "l_conversion_lag" -> lConversionLag _,
    "l_transitions" -> lTransitions _,
    "l_paths"      -> lPaths _,
    "l_seasonal"   -> lSeasonal _,
    "l_retention"  -> lRetention _,
    "l_histogram"  -> lHistogram _,
    "l_anomaly"    -> lAnomaly _,
    "l_mad"        -> lMad _,
    "l_burn_rate"  -> lBurnRate _,
    "l_ewma"       -> lEwma _,
    "l_drift_window" -> lDriftWindow _,
    "x_drift_gate" -> xDriftGate _,
    "l_pctile_approx_err" -> lPctileApproxErr _,
    "l_winsor"     -> lWinsor _,
    "l_apdex"      -> lApdex _,
    "l_debounce"   -> lDebounce _,
    "l_timechart"  -> lTimechart _,
    "l_sliding"    -> lSliding _,
    "l_session"    -> lSession _,
    "l_topk"       -> lTopk _,
    "l_topk_sketch" -> lTopkSketch _,
    "l_distinct"   -> lDistinct _,
    "l_percentile" -> lPercentile _,
    "l_percentile_approx" -> lPercentileApprox _,
    "l_percentile_sketch" -> lPercentileSketch _,
    "l_percentile_counts" -> lPercentileCounts _,
    "l_dedup"      -> lDedup _,
    "l_late"       -> lLate _)

  /** Shared funnel-stage CTEs (u1/u2/u3 = per-user stage-completion
    * times under the [[FUNNEL_STEP_MS]] window) — ONE copy spliced into
    * both l_funnel and l_conversion_lag, the segCtes discipline: a
    * window-semantics edit cannot diverge the two oracles.
    */
  private def funnelCtes: String =
    s"""ev AS (SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events),
      |u1 AS (SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN tms END) AS t0
      |       FROM ev GROUP BY user_id),
      |u2 AS (SELECT e.user_id, min(e.tms) AS t1
      |       FROM ev e JOIN u1 USING (user_id)
      |       WHERE e.event_type = 'click' AND u1.t0 IS NOT NULL
      |         AND e.tms > u1.t0 AND e.tms - u1.t0 <= $FUNNEL_STEP_MS
      |       GROUP BY e.user_id),
      |u3 AS (SELECT e.user_id, min(e.tms) AS t2
      |       FROM ev e JOIN u2 USING (user_id)
      |       WHERE e.event_type = 'purchase'
      |         AND e.tms > u2.t1 AND e.tms - u2.t1 <= $FUNNEL_STEP_MS
      |       GROUP BY e.user_id)""".stripMargin

  /** Hourly error-count CTE shared by the SRE pair. */
  private val hourlyErrCte: String =
    s"""b AS (SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // $HOUR_MS) * $HOUR_MS AS bucket_ms,
      |        CAST(count(*) AS BIGINT) AS n_total,
      |        CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      |      FROM events GROUP BY 1)""".stripMargin

  /** Quantized-ln SQL (the [[graft.operators.Drift.windowDrift]]
    * L(k) = round(ln k·2^20) core, DuckDB side). */
  private def lnQSql(e: String): String = {
    val Q = graft.operators.Stats.LnQ
    s"CAST(round(ln(CAST($e AS DOUBLE)) * $Q) AS BIGINT)"
  }

  /** Shared drift-score CTE chain (cnt → reference → per-window grid →
    * exact integer KL/TV sums in `sm`) — ONE copy spliced into BOTH
    * l_drift_window and x_drift_gate, the funnelCtes discipline: a
    * smoothing or binning edit cannot diverge the two oracles. The tail
    * bins map into the reference universe before the grid (the
    * [[graft.operators.Drift.mapCountsToRef]] contract — identity on
    * this fixture, where event_type cardinality ≪ REF_K).
    */
  private def driftCtes: String = {
    val W = DRIFT_WIN_MS
    val K = graft.operators.Drift.REF_K
    s"""cnt AS MATERIALIZED (
      |  SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // $W) * $W AS wstart,
      |         event_type AS bin, CAST(count(*) AS BIGINT) AS c0
      |  FROM events GROUP BY 1, 2),
      |bc AS MATERIALIZED (SELECT bin, CAST(sum(c0) AS BIGINT) AS c
      |                    FROM cnt GROUP BY bin),
      |hd AS MATERIALIZED (SELECT bin, c FROM bc ORDER BY c DESC, bin LIMIT $K),
      |cntm AS MATERIALIZED (
      |  SELECT wstart,
      |         CASE WHEN c.bin IN (SELECT bin FROM hd) THEN c.bin
      |              ELSE '__oov__' END AS bin,
      |         CAST(sum(c0) AS BIGINT) AS c0
      |  FROM cnt c GROUP BY 1, 2),
      |ref AS MATERIALIZED (
      |  SELECT bin, c AS c1 FROM hd
      |  UNION ALL
      |  SELECT '__oov__' AS bin,
      |         (SELECT coalesce(sum(c), 0) FROM bc)
      |           - (SELECT coalesce(sum(c), 0) FROM hd) AS c1),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS v,
      |              CAST(sum(c1) AS BIGINT) AS n1 FROM ref),
      |wins AS (SELECT wstart, CAST(sum(c0) AS BIGINT) AS n0
      |         FROM cntm GROUP BY wstart),
      |grid AS (SELECT w.wstart, w.n0, r.bin, r.c1,
      |                coalesce(c2.c0, 0) AS c0, tt.v, tt.n1
      |         FROM wins w CROSS JOIN ref r CROSS JOIN tt
      |         LEFT JOIN cntm c2 ON c2.wstart = w.wstart AND c2.bin = r.bin),
      |sm AS (SELECT wstart, max(n0) AS n0, max(v) AS v, max(n1) AS n1,
      |         sum(CAST(c0 + 1 AS HUGEINT) * (${lnQSql("c0 + 1")} - ${lnQSql("c1 + 1")})) AS a01,
      |         sum(CAST(c1 + 1 AS HUGEINT) * (${lnQSql("c1 + 1")} - ${lnQSql("c0 + 1")})) AS a10,
      |         sum(abs(CAST(c0 + 1 AS HUGEINT) * (n1 + v)
      |               - CAST(c1 + 1 AS HUGEINT) * (n0 + v))) AS tvnum
      |       FROM grid GROUP BY wstart)""".stripMargin
  }

  /** The three drift-score output expressions over `sm` — shared so the
    * assembly formula lives once. */
  private def klWrSql: String = ConnectorQueries.detRound4Sql(
    s"(CAST(a01 AS DOUBLE) / CAST(n0 + v AS DOUBLE)" +
      s" + CAST(${lnQSql("n1 + v")} - ${lnQSql("n0 + v")} AS DOUBLE)) / ${graft.operators.Stats.LnQ}")
  private def klRwSql: String = ConnectorQueries.detRound4Sql(
    s"(CAST(a10 AS DOUBLE) / CAST(n1 + v AS DOUBLE)" +
      s" + CAST(${lnQSql("n0 + v")} - ${lnQSql("n1 + v")} AS DOUBLE)) / ${graft.operators.Stats.LnQ}")
  private def tvSql: String = ConnectorQueries.detRound4Sql(
    "CAST(tvnum AS DOUBLE) / (2.0 * CAST(n0 + v AS DOUBLE)" +
      " * CAST(n1 + v AS DOUBLE))")

  private val oracleBase: Map[String, String] = Map(
    "l_pctile_approx_err" ->
      """SELECT event_type, CAST(p.pct AS BIGINT) AS pct,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS within_bound
        |FROM events CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
        |GROUP BY event_type, p.pct ORDER BY event_type, p.pct""".stripMargin,
    "l_winsor" -> {
      def r4(e: String) = ConnectorQueries.detRound4Sql(e)
      s"""WITH th AS (SELECT event_type,
        |         ${r4("quantile_cont(value, 0.05)")} AS p5,
        |         ${r4("quantile_cont(value, 0.95)")} AS p95
        |       FROM events GROUP BY event_type),
        |j AS (SELECT e.event_type,
        |        CAST(round(e.value * 10000) AS BIGINT) AS q,
        |        CAST(round(t.p5 * 10000) AS BIGINT) AS lo,
        |        CAST(round(t.p95 * 10000) AS BIGINT) AS hi,
        |        t.p5, t.p95
        |      FROM events e JOIN th t USING (event_type)),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        max(p5) AS p5, max(p95) AS p95,
        |        CAST(sum(q) AS BIGINT) AS sq,
        |        CAST(sum(least(greatest(q, lo), hi)) AS BIGINT) AS swq,
        |        CAST(sum(CASE WHEN q >= lo AND q <= hi THEN q ELSE 0 END) AS BIGINT) AS stq,
        |        CAST(sum(CASE WHEN q >= lo AND q <= hi THEN 1 ELSE 0 END) AS BIGINT) AS nt
        |      FROM j GROUP BY event_type)
        |SELECT event_type, n, p5, p95,
        |  ${r4("CAST(sq AS DOUBLE) / (n * 10000.0)")} AS mean,
        |  ${r4("CAST(swq AS DOUBLE) / (n * 10000.0)")} AS winsor_mean,
        |  ${r4("CASE WHEN nt = 0 THEN 0.0 ELSE CAST(stq AS DOUBLE) / (nt * 10000.0) END")} AS trim_mean,
        |  nt AS n_kept
        |FROM g ORDER BY event_type""".stripMargin
    },
    "l_drift_window" ->
      s"""WITH $driftCtes
        |SELECT wstart, n0, $klWrSql AS kl_wr, $klRwSql AS kl_rw,
        |  $tvSql AS tv
        |FROM sm ORDER BY wstart""".stripMargin,
    "x_drift_gate" ->
      s"""WITH $driftCtes,
        |kl AS (SELECT wstart, n0, $klWrSql AS kl_wr FROM sm),
        |qs AS (SELECT wstart, n0, kl_wr,
        |         CAST(round(kl_wr * 10000) AS BIGINT) AS qk FROM kl),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS nw,
        |              CAST(sum(CAST(qk AS HUGEINT)) AS HUGEINT) AS s1,
        |              CAST(sum(CAST(qk AS HUGEINT) * qk) AS HUGEINT) AS s2
        |       FROM qs),
        |vd AS (SELECT q.wstart, q.n0, q.kl_wr,
        |         CASE WHEN (CAST(q.qk AS HUGEINT) * st.nw - st.s1) > 0
        |           AND CAST(CAST(q.qk AS HUGEINT) * st.nw - st.s1 AS DOUBLE)
        |             * CAST(CAST(q.qk AS HUGEINT) * st.nw - st.s1 AS DOUBLE)
        |             > 4.0 * CAST(st.nw * st.s2 - st.s1 * st.s1 AS DOUBLE)
        |           THEN 1 ELSE 0 END AS quarantined
        |       FROM qs q CROSS JOIN st),
        |ke AS (SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // $DRIFT_WIN_MS)
        |                * $DRIFT_WIN_MS AS wstart, user_id FROM events),
        |ka AS (SELECT k.wstart, CAST(count(*) AS BIGINT) AS n_kept,
        |              CAST(count(DISTINCT k.user_id) AS BIGINT) AS n_users_kept
        |       FROM ke k
        |       WHERE k.wstart IN (SELECT wstart FROM vd WHERE quarantined = 0)
        |       GROUP BY k.wstart)
        |SELECT v.wstart, v.n0, v.kl_wr,
        |       CAST(v.quarantined AS BIGINT) AS quarantined,
        |       coalesce(ka.n_kept, 0) AS n_kept,
        |       coalesce(ka.n_users_kept, 0) AS n_users_kept
        |FROM vd v LEFT JOIN ka USING (wstart) ORDER BY wstart""".stripMargin,
    "l_ewma" -> {
      val lags = (0 until EWMA_LAGS).map(j =>
        s"coalesce(lag(n_events, $j) OVER tw, 0) * ${1L << (31 - j)}")
        .mkString(" + ")
      s"""WITH h AS (SELECT event_type,
        |       (epoch_ms(CAST(ts AS TIMESTAMP)) // $HOUR_MS) * $HOUR_MS AS bucket_ms,
        |       CAST(count(*) AS BIGINT) AS n_events
        |     FROM events GROUP BY 1, 2),
        |w1 AS (SELECT event_type, bucket_ms, n_events, $lags AS sq,
        |         row_number() OVER tw AS rn
        |       FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_ms)),
        |w2 AS (SELECT event_type, bucket_ms, n_events, rn,
        |         lag(sq, 1) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS sq_prev
        |       FROM w1)
        |SELECT event_type, bucket_ms, n_events,
        |       ${ConnectorQueries.detRound4Sql(s"sq_prev / $EWMA_Q.0")} AS ewma_prev,
        |       ${ConnectorQueries.detRound4Sql(
                 s"n_events * $EWMA_Q.0 / sq_prev")} AS ratio
        |FROM w2
        |WHERE rn > $EWMA_WARMUP AND sq_prev > 0
        |  AND n_events * 2 * $EWMA_Q > sq_prev * 3
        |ORDER BY event_type, bucket_ms""".stripMargin
    },
    "l_burn_rate" ->
      s"""WITH $hourlyErrCte,
        |w AS (SELECT *,
        |        sum(n_err) OVER (ORDER BY bucket_ms ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6,
        |        sum(n_total) OVER (ORDER BY bucket_ms ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS t6
        |      FROM b),
        |f AS (SELECT bucket_ms, n_err, n_total,
        |        (CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE)) / $SLO_BUDGET AS burn1,
        |        (CAST(e6 AS DOUBLE) / CAST(t6 AS DOUBLE)) / $SLO_BUDGET AS burn6
        |      FROM w)
        |SELECT bucket_ms, n_err, n_total,
        |       floor(burn1 * 10000.0 + 0.5) / 10000.0 AS burn1,
        |       floor(burn6 * 10000.0 + 0.5) / 10000.0 AS burn6
        |FROM f WHERE burn1 > $BURN_FAST AND burn6 > $BURN_SLOW
        |ORDER BY bucket_ms""".stripMargin,
    "l_apdex" ->
      s"""WITH b AS (SELECT
        |    CAST((epoch_ms(CAST(ts AS TIMESTAMP)) // $HOUR_MS) * $HOUR_MS AS BIGINT) AS bucket_ms,
        |    value FROM events),
        |a AS (SELECT bucket_ms,
        |        CAST(count(*) AS BIGINT) AS n_total,
        |        CAST(sum(CASE WHEN value <= $APDEX_T THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
        |        CAST(sum(CASE WHEN value > $APDEX_T AND value <= ${4 * APDEX_T} THEN 1 ELSE 0 END) AS BIGINT) AS n_tol
        |      FROM b GROUP BY bucket_ms)
        |SELECT bucket_ms, n_total, n_sat, n_tol,
        |  ${ConnectorQueries.detRound4Sql("(CAST(n_sat AS DOUBLE) + CAST(n_tol AS DOUBLE) / 2) / CAST(n_total AS DOUBLE)")} AS apdex
        |FROM a ORDER BY bucket_ms""".stripMargin,
    "l_debounce" ->
      s"""WITH $hourlyErrCte,
        |f AS (SELECT *, CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE) AS rate
        |      FROM b WHERE CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE) > $DEBOUNCE_RATE),
        |g AS (SELECT *, CASE WHEN lag(bucket_ms) OVER (ORDER BY bucket_ms) IS NULL
        |          OR bucket_ms - lag(bucket_ms) OVER (ORDER BY bucket_ms) > $HOUR_MS
        |        THEN 1 ELSE 0 END AS ni FROM f),
        |e AS (SELECT *, sum(ni) OVER (ORDER BY bucket_ms ROWS UNBOUNDED PRECEDING) AS ep FROM g)
        |SELECT CAST(min(bucket_ms) AS BIGINT) AS start_ms,
        |       CAST(max(bucket_ms) AS BIGINT) AS end_ms,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       floor(max(rate) * 10000.0 + 0.5) / 10000.0 AS peak_rate
        |FROM e GROUP BY ep ORDER BY start_ms""".stripMargin,
    "l_seasonal" ->
      """WITH b AS (SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) * 3600000 AS bucket_ms,
        |        event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2),
        |h AS (SELECT *, CAST((bucket_ms // 3600000) % 24 AS BIGINT) AS hod FROM b),
        |g AS (SELECT *, sum(n) OVER (PARTITION BY event_type, hod) AS tot,
        |        count(*) OVER (PARTITION BY event_type, hod) AS cnt FROM h)
        |SELECT bucket_ms, event_type, hod, n,
        |       floor((CAST(n AS DOUBLE) * cnt / tot) * 10000.0 + 0.5) / 10000.0 AS lift
        |FROM g WHERE n * cnt * 2 > 3 * tot
        |ORDER BY bucket_ms, event_type""".stripMargin,
    "l_paths" ->
      """WITH s AS (SELECT user_id,
        |      array_to_string(list_slice(
        |        list(event_type ORDER BY ts, event_id), 1, 5), ' > ') AS path
        |    FROM events GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM s GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    "l_funnel" ->
      s"""WITH $funnelCtes
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(count(u1.t0) AS BIGINT) AS n_view,
        |       CAST(count(u2.t1) AS BIGINT) AS n_click,
        |       CAST(count(u3.t2) AS BIGINT) AS n_purchase
        |FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)""".stripMargin,
    "l_conversion_lag" ->
      s"""WITH $funnelCtes,
        |lags AS (SELECT '1_view_to_click' AS step, u2.t1 - u1.t0 AS lag_ms
        |         FROM u2 JOIN u1 USING (user_id)
        |         UNION ALL
        |         SELECT '2_click_to_purchase' AS step, u3.t2 - u2.t1 AS lag_ms
        |         FROM u3 JOIN u2 USING (user_id))
        |SELECT step, CAST(count(*) AS BIGINT) AS n_converted,
        |       floor((quantile_cont(lag_ms, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_ms,
        |       floor((quantile_cont(lag_ms, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90_ms
        |FROM lags GROUP BY step ORDER BY step""".stripMargin,
    "l_transitions" ->
      """WITH p AS (SELECT user_id, event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS to_type
        |           FROM events)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "l_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM days GROUP BY user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |       CAST(d - cohort AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT days.user_id) AS BIGINT) AS n_users
        |FROM days JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "l_histogram" ->
      """SELECT event_type, CAST(floor(value / 100) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,
    "l_anomaly" ->
      s"""WITH b AS (
        |  SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS bucket_ms,
        |         event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT bucket_ms, event_type, n,
        |         CAST(sum(n) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS mean,
        |         CAST(sum(n * n) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS ex2
        |       FROM b WINDOW w AS (PARTITION BY event_type))
        |SELECT bucket_ms, event_type, n,
        |       ${ConnectorQueries.detRound4Sql("mean")} AS series_mean,
        |       ${ConnectorQueries.detRound4Sql("ex2 - mean * mean")} AS series_var
        |FROM st
        |WHERE (CAST(n AS DOUBLE) - mean) * (CAST(n AS DOUBLE) - mean)
        |      > 4.0 * (ex2 - mean * mean)
        |ORDER BY bucket_ms, event_type""".stripMargin,
    "l_mad" ->
      s"""WITH b AS (
        |  SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS bucket_ms,
        |         event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM b GROUP BY 1),
        |d AS (SELECT b.*, m.med, abs(CAST(n AS DOUBLE) - m.med) AS ad
        |      FROM b JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT bucket_ms, event_type, n,
        |       ${ConnectorQueries.detRound4Sql("med")} AS series_med,
        |       ${ConnectorQueries.detRound4Sql("mad")} AS series_mad
        |FROM d JOIN md USING (event_type)
        |WHERE ad > 3.0 * mad
        |ORDER BY bucket_ms, event_type""".stripMargin,
    "l_timechart" ->
      """SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS bucket_ms,
        |       event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin,
    "l_sliding" ->
      s"""SELECT event_id,
        |       ${ConnectorQueries.detRound4Sql(
              "CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE) / (count(*) OVER w * 100.0)")} AS avg_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "l_session" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
        |                   - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), se AS (
        |  SELECT user_id, event_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS start_ms,
        |       epoch_ms(CAST(max(ts) AS TIMESTAMP)) AS end_ms
        |FROM se GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "l_topk" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,
    "l_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "l_percentile" ->
      """SELECT event_type,
        |       floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
        |       floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90,
        |       floor((quantile_cont(value, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "l_dedup" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "l_late" ->
      """WITH m AS (
        |  SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |         max(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (
        |           PARTITION BY user_id % 4 ORDER BY event_id
        |           ROWS UNBOUNDED PRECEDING) AS max_ts_ms
        |  FROM events)
        |SELECT event_id FROM m WHERE ts_ms >= max_ts_ms - 600000
        |ORDER BY event_id""".stripMargin)

  /** The counts-mode twin SHARES the default mode's oracle: one SQL
    * text, two plan shapes — the gate hash-proves exact-mode invariance
    * on the real fixture (the `_skewjoin` discipline). */
  val oracle: Map[String, String] = oracleBase +
    ("l_percentile_counts" -> oracleBase("l_percentile")) +
    // capacity ≥ distinct keys ⇒ Misra-Gries is exact; the sketch twin
    // shares the exact oracle and the gate proves it on the fixture
    ("l_topk_sketch" -> oracleBase("l_topk")) +
    // accuracy ≥ group size ⇒ the GK summary never compresses and
    // percentile_approx returns the exact DISCRETE quantile — DuckDB's
    // quantile_disc, same pick convention (NOT the interpolating
    // quantile_cont of l_percentile)
    ("l_percentile_sketch" ->
      """SELECT event_type,
        |       floor((quantile_disc(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
        |       floor((quantile_disc(value, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90,
        |       floor((quantile_disc(value, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
