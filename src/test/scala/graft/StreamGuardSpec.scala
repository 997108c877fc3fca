package graft

import graft.functions.Text
import graft.operators.{Dedup, Drift, Knn, StatefulFunnel, StatefulTransitions}
import graft.query.HumioQuery
import graft.streaming.{ConnectorPipeline, Curation}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.operators.stateful.{SessionWindowStateStoreSaveExec, StateStoreSaveExec, StreamingDeduplicateExec, StreamingDeduplicateWithinWatermarkExec, StreamingGlobalLimitExec}
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

/** [[PlanGuardSpec]]'s streaming twin (r13 verdict ask #5): the batch
  * audit proves no batch plan funnels corpus rows through one task; this
  * one proves no STREAMING entry point accumulates state that grows with
  * stream length. Each public streaming surface runs two micro-batches
  * on a MemoryStream and its last execution's stateful operators are
  * audited structurally:
  *
  *  - a streaming AGGREGATE must be watermark-evicted (append mode,
  *    `eventTimeWatermarkForEviction` advanced past 0) — complete-mode
  *    aggregation retains every key forever and is rejected outright;
  *  - streaming DEDUPLICATION must be the within-watermark form (plain
  *    `dropDuplicates` state never expires);
  *  - `flatMapGroupsWithState` must use EventTimeTimeout under an
  *    advanced watermark (state expires per key), except entries
  *    justified below as FIXED-size per-key state over a plan-time /
  *    deployment-bounded key domain;
  *  - a stream-stream JOIN must carry state-eviction predicates on BOTH
  *    sides (the time band + watermark bound each buffer);
  *  - the connector data path must stay entirely STATELESS (its
  *    at-least-once contract lives in the sink + offset WAL, not in
  *    operator state).
  *
  * Each test names the entry point it guards and carries the per-entry
  * justification; together they enumerate every `isStreaming` surface in
  * the library (HumioQuery.runStream's stateful verbs, the five
  * Stateful* operators, Curation's five ingest/gate faces, the drift
  * monitor, the three streaming dedup/ANN quarantine probes, and the
  * connector pipeline).
  */
class StreamGuardSpec extends SparkSpec {
  import spark.implicits._

  // ---- the audit ----

  /** Walk `q`'s last micro-batch plan; assert every stateful operator's
    * state is bounded per the rules above; return the operator kinds
    * seen so each test can assert the EXPECTED state shape is present
    * (a silently stateless plan would vacuously pass the bounds).
    */
  private def auditBoundedState(entry: String, q: StreamingQuery,
                                noTimeoutOk: Boolean = false): Set[String] = {
    val plan: SparkPlan = q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    val kinds = collection.mutable.Set[String]()
    plan.foreach {
      case s: StateStoreSaveExec =>
        kinds += "agg"
        assert(!s.outputMode.contains(OutputMode.Complete()),
          s"$entry: complete-mode streaming aggregation retains every key forever")
        assert(s.eventTimeWatermarkForEviction.exists(_ > 0),
          s"$entry: streaming aggregate has no advanced watermark eviction " +
            "— window state would accumulate for the stream's lifetime")
      case s: SessionWindowStateStoreSaveExec =>
        kinds += "session"
        assert(s.eventTimeWatermarkForEviction.exists(_ > 0),
          s"$entry: session-window state has no advanced watermark eviction")
      case s: StreamingDeduplicateWithinWatermarkExec =>
        kinds += "dedup"
        assert(s.eventTimeWatermarkForEviction.exists(_ > 0),
          s"$entry: within-watermark dedup state has no advanced eviction bound")
      case _: StreamingDeduplicateExec =>
        // the non-within form keeps every key seen, forever — no entry
        // point in this repo may plan it (dropDuplicatesWithinWatermark
        // is the sanctioned spelling)
        fail(s"$entry: unbounded StreamingDeduplicate — " +
          "use dropDuplicatesWithinWatermark")
      case s: FlatMapGroupsWithStateExec =>
        kinds += "fmgws"
        if (s.timeoutConf == GroupStateTimeout.EventTimeTimeout)
          assert(s.eventTimeWatermarkForEviction.exists(_ > 0),
            s"$entry: EventTimeTimeout state but the watermark never advanced " +
              "— per-key state would never expire")
        else assert(noTimeoutOk,
          s"$entry: ${s.timeoutConf} keyed state without a documented " +
            "fixed-size-per-key justification")
      case s: StreamingSymmetricHashJoinExec =>
        kinds += "join"
        assert(s.stateWatermarkPredicates.left.isDefined &&
          s.stateWatermarkPredicates.right.isDefined,
          s"$entry: stream-stream join buffers a side with no state " +
            "eviction predicate — that buffer grows with the stream")
      case _: StreamingGlobalLimitExec =>
        kinds += "limit" // state is one row counter — bounded by construction
      case _ => ()
    }
    kinds.toSet
  }

  // ---- shared fixtures ----

  private def toEvents(df: DataFrame): DataFrame =
    df.select(col("_1").as("event_id"), col("_2").as("event_type"),
      col("_3").as("value"), to_timestamp(col("_4")).as("ts"))

  // two in-order batches; the second advances the watermark well past 0
  private val evBatch1 = Seq(
    (1L, "click", 10.0, "2024-03-01 00:10:00"),
    (2L, "view", 20.0, "2024-03-01 00:20:00"),
    (3L, "click", 5.0, "2024-03-01 00:40:00"))
  private val evBatch2 = Seq(
    (4L, "click", 7.0, "2024-03-01 01:40:00"),
    (5L, "view", 1.0, "2024-03-01 02:05:00"))

  /** Run a runStream() DSL query two batches deep and audit it. */
  private def auditHq(name: String, q: String,
                      noTimeoutOk: Boolean = false): Set[String] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q,
      watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName(s"sg_$name")
      .outputMode("append").start()
    try {
      mem.addData(evBatch1: _*); query.processAllAvailable()
      mem.addData(evBatch2: _*); query.processAllAvailable()
      auditBoundedState(name, query, noTimeoutOk)
    } finally query.stop()
  }

  // ---- HumioQuery.runStream stateful verbs ----

  test("runStream timechart: windowed aggregate state evicts with the watermark") {
    // state = open (window, series) groups under the watermark only
    assert(auditHq("timechart", "timechart(span=1h, function=sum(value))") == Set("agg"))
  }

  test("runStream chained window() after timechart: BOTH aggregates evict") {
    // the moving-average re-aggregation inherits the bucket stream's
    // event-time column — two watermarked saves, zero unbounded state
    assert(auditHq("tc_window",
      "timechart(span=1h) | window(_count, buckets=3)") == Set("agg"))
  }

  test("runStream session(): session-window state evicts with the watermark") {
    assert(auditHq("session",
      "session(field=event_type, maxpause=10m)") == Set("session"))
  }

  test("runStream dedup(): compiles to WITHIN-WATERMARK dedup state") {
    assert(auditHq("dedup", "dedup(event_type)") == Set("dedup"))
  }

  test("runStream dedup(limit=n): keyed first-n state expires by event time") {
    // StatefulDedup.keepFirstN — state is ≤ n (ts, event_id) identities
    // per key AND the key itself expires with the watermark
    assert(auditHq("dedup_n", "dedup(event_type, limit=2)") == Set("fmgws"))
  }

  test("runStream accumulate(): keyed running state expires by event time") {
    // StatefulSequence.running — one accumulator per by= key,
    // EventTimeTimeout evicts idle keys once the watermark passes
    assert(auditHq("accumulate",
      "cents := round(value * 100) | accumulate(cents, by=event_type)") == Set("fmgws"))
  }

  test("runStream slidingWindow(): capped ring state expires by event time") {
    // StatefulSequence.ring — state is a ring buffer of at most
    // events=n values per key (cap fixed at plan time), watermark-expired
    assert(auditHq("sliding",
      "cents := round(value * 100) | slidingWindow(cents, events=2, by=event_type)") == Set("fmgws"))
  }

  test("runStream neighbor(): lag ring state expires by event time") {
    assert(auditHq("neighbor",
      "cents := round(value * 100) | neighbor(cents, by=event_type)") == Set("fmgws"))
  }

  test("runStream partition(): partition-index state expires by event time") {
    assert(auditHq("partition",
      "partition(value, by=event_type)") == Set("fmgws"))
  }

  test("runStream counterAsRate(): fixed two-number state per series (justified NoTimeout)") {
    // StatefulRate — state is exactly (last ts, last value) per series:
    // FIXED width, never appended to. NoTimeout is deliberate: rate()
    // needs the previous sample across arbitrarily long quiet gaps
    // (an evicted series would emit a spurious NULL-rate restart), and
    // the key domain is the metric-series catalog (by= label values),
    // which is deployment-bounded, not stream-length-bounded.
    assert(auditHq("rate", "counterAsRate(value, by=event_type)",
      noTimeoutOk = true) == Set("fmgws"))
  }

  test("runStream join(within=): both join buffers carry eviction predicates") {
    // the ±within band plus the shared watermark bound each side's
    // buffered rows — state is the in-band window only
    assert(auditHq("ssjoin",
      "u := event_id % 2 | " +
        "join({event_type = click | select(ts, u, value)}, " +
        "field=u, key=u, within=30m, include=[value]) | " +
        "select(event_id, value)") == Set("join"))
  }

  // ---- StatefulFunnel / StatefulTransitions (batch-twin operators
  // called directly; the DSL routes l_funnel/l_transitions here) ----

  private def toUserEvents(df: DataFrame): DataFrame =
    df.select(col("_1").as("event_id"), col("_2").as("user_id"),
      col("_3").as("event_type"), to_timestamp(col("_4")).as("ts"))

  test("StatefulFunnel.progress: per-user stage vector expires by event time") {
    // state = stage index + completion times (fixed width = |stages|)
    // per user key, EventTimeTimeout-evicted after the conversion window
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, String)]
    val out = StatefulFunnel.progress(
      toUserEvents(mem.toDF()).withWatermark("ts", "10 minutes"),
      "user_id", Seq("view", "click"), 3600000L)
    val query = out.writeStream.format("memory").queryName("sg_funnel")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, "view", "2024-03-01 00:00:00")); query.processAllAvailable()
      mem.addData((2L, 1L, "click", "2024-03-01 01:00:00")); query.processAllAvailable()
      assert(auditBoundedState("funnel", query) == Set("fmgws"))
    } finally query.stop()
  }

  test("StatefulTransitions.pairs: last-event state expires by event time") {
    // state = ONE (ts, event_id, type) triple per key, watermark-expired
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, String)]
    val out = StatefulTransitions.pairs(
      toUserEvents(mem.toDF()).withWatermark("ts", "10 minutes"), "user_id")
    val query = out.writeStream.format("memory").queryName("sg_trans")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, "view", "2024-03-01 00:00:00")); query.processAllAvailable()
      mem.addData((2L, 1L, "click", "2024-03-01 01:00:00")); query.processAllAvailable()
      assert(auditBoundedState("transitions", query) == Set("fmgws"))
    } finally query.stop()
  }

  // ---- Curation streaming faces ----

  private val docGate = size(split(col("text"), " ")).between(3, 50)
  private lazy val sgBaseDocs = Seq(
    (100L, "alpha beta gamma delta epsilon zeta"),
    (101L, "one two three four five six seven")).toDF("doc_id", "text")
  private lazy val sgBandIndex = {
    graft.expressions.ShinglePermMinHash.register(spark)
    Dedup.bandRows(sgBaseDocs, col("text"), 16, 2).select("band", "key").cache()
  }
  private lazy val sgEvalGrams = {
    graft.expressions.WordShingles.register(spark)
    Seq("quick brown fox jumps over dog").toDF("text")
      .select(explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
      .distinct().cache()
  }
  private def toDocStream(mem: MemoryStream[(Long, String, String)]): DataFrame =
    mem.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  private val docBatch1 = Seq(
    (1L, "2024-03-01 00:00:01", "totally fresh document words here today"),
    (2L, "2024-03-01 00:00:02", "alpha beta gamma delta epsilon zeta"))
  private val docBatch2 = Seq(
    (3L, "2024-03-01 02:00:00", "late sentinel advances the watermark now"))

  /** Start → two batches → audit, for the doc-stream curation faces. */
  private def auditDocStream(name: String,
                             build: DataFrame => DataFrame): Set[String] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val query = build(toDocStream(mem)).writeStream.format("memory")
      .queryName(s"sg_$name").outputMode("append").start()
    try {
      mem.addData(docBatch1: _*); query.processAllAvailable()
      mem.addData(docBatch2: _*); query.processAllAvailable()
      auditBoundedState(name, query)
    } finally query.stop()
  }

  test("Curation.streamingCurateVerdicts: ONE watermarked windowed aggregate") {
    // the single-stateful-operator design: all verdict channels union
    // into one (window, doc_id) aggregate; state = in-flight docs under
    // the watermark only
    assert(auditDocStream("curate_verdicts", st =>
      Curation.streamingCurateVerdicts(st, docGate, sgEvalGrams,
        sgBandIndex, 16, 2)) == Set("agg"))
  }

  test("Curation.streamingCurateIngest: the composite keeps the one-aggregate shape") {
    assert(auditDocStream("curate_ingest", st =>
      Curation.streamingCurateIngest(st, docGate, sgEvalGrams,
        sgBandIndex, 16, 2, chunkBudget = 4)) == Set("agg"))
  }

  test("Curation.streamingCurateExactIngest: span collection rides the same one aggregate") {
    // state per doc = text + its duplicated span starts (bounded by the
    // doc's own gram count), watermark-evicted with the window
    graft.expressions.WordShingles.register(spark)
    val gramIndex = Dedup.substrGramIndex(sgBaseDocs, col("text"), 4).cache()
    try assert(auditDocStream("curate_esd", st =>
      Curation.streamingCurateExactIngest(st, docGate, sgEvalGrams,
        gramIndex, 4, chunkBudget = 4)) == Set("agg"))
    finally gramIndex.unpersist()
  }

  test("Curation.streamingCurateSemanticIngest: ANN probe is stateless, one aggregate holds state") {
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val baseVecs = Seq((100L, v(0)), (101L, v(40))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("cent_id", "cvec")
    val cellIndex = Knn.ivfAssign(baseVecs, cents, 4).cache()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Array[Float])]
    val stream = mem.toDF().toDF("doc_id", "ts_s", "text", "embedding")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val query = Curation.streamingCurateSemanticIngest(stream, docGate,
        sgEvalGrams, cellIndex, cents, 4, 0.9, 2, 100, chunkBudget = 4)
      .writeStream.format("memory").queryName("sg_curate_sem")
      .outputMode("append").start()
    try {
      mem.addData((21L, "2024-03-01 00:00:01", "a semantic near duplicate arrives here", v(1)))
      query.processAllAvailable()
      mem.addData((22L, "2024-03-01 02:00:00", "late sentinel advances the watermark", v(135)))
      query.processAllAvailable()
      assert(auditBoundedState("curate_sem", query) == Set("agg"))
    } finally { query.stop(); cellIndex.unpersist() }
  }

  test("Curation.streamingSourceState: watermarked (window, doc) aggregate in APPEND mode") {
    // production contract: append mode (the downstream finishSourceGate
    // consumes closed windows). Complete mode — which the drain-style
    // spec uses for test convenience — would retain every (window, doc)
    // group forever and is exactly what this guard rejects.
    implicit val sq = spark.sqlContext
    val cols = Seq("ts", "doc_id", "source", "qf", "dp", "cn", "w")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Long, Long, Long, Long)]
    val query = Curation.streamingSourceState(mem.toDF().toDF(cols: _*),
        "10 minutes", "30 minutes", col("qf") === 1, col("dp") === 1,
        col("cn") === 1, col("w"))
      .writeStream.format("memory").queryName("sg_srcstate")
      .outputMode("append").start()
    try {
      mem.addData((java.sql.Timestamp.valueOf("2024-03-01 00:05:00"), 1L, "a", 0L, 0L, 0L, 7L))
      query.processAllAvailable()
      mem.addData((java.sql.Timestamp.valueOf("2024-03-01 03:00:00"), 2L, "b", 0L, 0L, 0L, 7L))
      query.processAllAvailable()
      assert(auditBoundedState("source_state", query) == Set("agg"))
    } finally query.stop()
  }

  // ---- drift monitor ----

  test("Drift.streamingDriftState: watermarked (window, doc) aggregate") {
    // state = in-flight docs under the watermark; the reference
    // distribution never enters the stream (finishDrift joins it
    // statelessly over the drained state)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val st = toDocStream(mem).select(col("doc_id"), col("ts"),
      Text.tokens(col("text")).as("items"))
    val query = Drift.streamingDriftState(st, "ts", "doc_id",
        col("items"), "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sg_drift")
      .outputMode("append").start()
    try {
      mem.addData(docBatch1: _*); query.processAllAvailable()
      mem.addData(docBatch2: _*); query.processAllAvailable()
      assert(auditBoundedState("drift_state", query) == Set("agg"))
    } finally query.stop()
  }

  // ---- streaming dedup / ANN quarantine probes ----

  test("Dedup.streamingIngestDupIds: index side static, dedup state within-watermark") {
    assert(auditDocStream("ingest_dup", st =>
      Dedup.streamingIngestDupIds(st, col("text"), 16, 2, sgBandIndex)) ==
      Set("dedup"))
  }

  test("Dedup.streamingSubstrDupIds: gram probe stateless, dedup state within-watermark") {
    graft.expressions.WordShingles.register(spark)
    val gramIndex = Dedup.substrGramIndex(sgBaseDocs, col("text"), 4).cache()
    try assert(auditDocStream("substr_dup", st =>
      Dedup.streamingSubstrDupIds(st, col("text"), 4, gramIndex)) ==
      Set("dedup"))
    finally gramIndex.unpersist()
  }

  test("Knn.streamingProbeCellDupIds: codebook broadcast, dedup state within-watermark") {
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val base = Seq((0L, v(0)), (1L, v(40))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("cent_id", "cvec")
    val index = Knn.ivfAssign(base, cents, 4).cache()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float], String)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val query = Knn.streamingProbeCellDupIds(stream, index, cents, 4, 0.9, 2, 100)
      .writeStream.format("memory").queryName("sg_ann_dup")
      .outputMode("append").start()
    try {
      mem.addData((10L, v(1), "2024-03-01 00:00:01")); query.processAllAvailable()
      mem.addData((11L, v(135), "2024-03-01 02:00:00")); query.processAllAvailable()
      assert(auditBoundedState("ann_dup", query) == Set("dedup"))
    } finally { query.stop(); index.unpersist() }
  }

  // ---- connector data path ----

  test("ConnectorPipeline.transform: the connector path plans ZERO stateful operators") {
    // at-least-once lives in the sink + offset WAL (foreachBatch fails
    // the batch before the commit log records it) — per-event transforms
    // must stay stateless or connector restarts would replay into state
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val query = ConnectorPipeline.transform(mem.toDF(), "host1", "stream1")
      .writeStream.format("memory").queryName("sg_connector")
      .outputMode("append").start()
    try {
      mem.addData("""{"metadata":{"eventCreationTime":1,"offset":1},"event":{}}""")
      query.processAllAvailable()
      mem.addData("""{"metadata":{"eventCreationTime":2,"offset":2},"event":{}}""")
      query.processAllAvailable()
      assert(auditBoundedState("connector", query) == Set.empty[String])
    } finally query.stop()
  }

  test("connector path parses each line once: one JsonToStructs, no ArrayTransform") {
    // the R3 corrupt-drop filter, pushed below the parse projection,
    // used to leave two more from_json copies in the plan (one pruned to
    // `metadata`), and R5 ran an interpreted transform lambda — an
    // optimizer rule that brings either back shows up here
    def assertParsedOnce(entry: String, q: StreamingQuery): Unit = {
      val plan: LogicalPlan = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      val exprs = plan.collect { case node => node.expressions }.flatten
      val parses = exprs.flatMap(_.collect { case j: JsonToStructs => j })
      val lambdas = exprs.flatMap(_.collect { case t: ArrayTransform => t })
      assert(parses.size == 1, s"$entry: ${parses.size} from_json per line:\n$plan")
      assert(lambdas.isEmpty, s"$entry: interpreted KV flatten lambda:\n$plan")
    }
    val line = """{"metadata":{"eventCreationTime":1,"offset":1},""" +
      """"event":{"AuditKeyValues":[{"Key":"k","ValueString":"v"}]}}"""
    implicit val sq = spark.sqlContext

    val mem = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("graft-sg-cp").toString
    val shipped = ConnectorPipeline.run(mem.toDF(), new ConnectorPipeline.BulkSink {
      def post(events: Seq[String]): Boolean = true
    }, cp, "host1", "stream1", triggerMs = 0L)
    try {
      mem.addData(line); shipped.processAllAvailable()
      assertParsedOnce("run", shipped)
    } finally shipped.stop()

    val mem2 = MemoryStream[String]
    val hunted = ConnectorPipeline.queryStream(mem2.toDF(), "k = v", "host1",
        "stream1", promote = Seq("k"))
      .writeStream.format("memory").queryName("sg_connector_hq")
      .outputMode("append").start()
    try {
      mem2.addData(line); hunted.processAllAvailable()
      assertParsedOnce("queryStream", hunted)
    } finally hunted.stop()
  }
}
