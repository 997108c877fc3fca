package graft

import graft.expressions.FalconEnvelope
import graft.query.HumioQuery
import graft.streaming.ConnectorPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, JsonToStructs, Length}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
  * justification; together they enumerate every streaming surface in
  * the library: the connector pipeline (`ConnectorPipeline.run` and
  * `transform`) and the wire-to-query composition
  * `ConnectorPipeline.queryStream`, whose stateful verbs are
  * HumioQuery.runStream's (StatefulSequence, StatefulRate and
  * StatefulDedup behind them).
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

  test("connector checkpoint: offsets/ and commits/ hold no Hadoop .crc files") {
    // run's checkpoint logs go through LocalCheckpointFileManager; a
    // .crc sibling means a write went through Hadoop's ChecksumFs, which
    // without libhadoop starts chmod/readlink processes for every file
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("graft-sg-crc").toFile
    val q = ConnectorPipeline.run(mem.toDF(), new ConnectorPipeline.BulkSink {
      def post(events: Seq[String]): Boolean = true
    }, cp.toString, "host1", "stream1", triggerMs = 0L)
    try {
      mem.addData("""{"metadata":{"eventCreationTime":1,"offset":1},"event":{}}""")
      q.processAllAvailable()
      mem.addData("""{"metadata":{"eventCreationTime":2,"offset":2},"event":{}}""")
      q.processAllAvailable()
    } finally q.stop()
    for (log <- Seq("offsets", "commits")) {
      val names = new java.io.File(cp, log).list().toSeq
      assert(names.contains("1"), s"$log: both batches must be logged, got $names")
      assert(!names.exists(_.endsWith(".crc")), s"$log: checksum files $names")
    }
  }

  test("connector run: the parse Generate and the payload Project share one codegen stage") {
    // JsonToStructs is CodegenFallback: with from_json as the R3 parse,
    // the Generate and the to_json projection above it ran outside
    // whole-stage codegen
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("graft-sg-wscg").toString
    val q = ConnectorPipeline.run(mem.toDF(), new ConnectorPipeline.BulkSink {
      def post(events: Seq[String]): Boolean = true
    }, cp, "host1", "stream1", triggerMs = 0L)
    val plan = try {
      mem.addData("""{"metadata":{"eventCreationTime":1,"offset":1},"event":{}}""")
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    // the operators a codegen stage fuses: its subtree down to InputAdapter
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(fused)
    })
    val stages = plan.collect { case w: WholeStageCodegenExec => fused(w.child) }
    val shared = stages.filter(ops =>
      ops.exists(_.isInstanceOf[GenerateExec]) &&
        ops.exists { case p: ProjectExec => p.output.exists(_.name == "payload"); case _ => false })
    assert(shared.size == 1, s"parse and payload are not fused:\n$plan")
  }

  test("connector parses each line once: one FalconEnvelope, no from_json or lambda") {
    // the R3 corrupt-drop filter, pushed below the parse projection,
    // used to leave two more parses in the plan (one pruned to
    // `metadata`), and R5 ran an interpreted transform lambda; R3 is the
    // native envelope parse, whose from_json fallback is a field, not a
    // child — an optimizer rule or a rewrite that brings any of these
    // back shows up here
    def assertParsedOnce(entry: String, q: StreamingQuery): Unit = {
      val plan: LogicalPlan = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      val exprs = plan.collect { case node => node.expressions }.flatten
      val native = exprs.flatMap(_.collect { case f: FalconEnvelope => f })
      val parses = exprs.flatMap(_.collect { case j: JsonToStructs => j })
      val lambdas = exprs.flatMap(_.collect { case t: ArrayTransform => t })
      assert(native.size == 1, s"$entry: ${native.size} native parses per line:\n$plan")
      assert(parses.isEmpty, s"$entry: ${parses.size} from_json in the plan:\n$plan")
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

  private val acceptAll = new ConnectorPipeline.BulkSink {
    def post(events: Seq[String]): Boolean = true
  }

  /** Starts [[ConnectorPipeline.run]] on a MemoryStream, feeds `batches`
    * one micro-batch each, and hands the query to `inspect` before
    * stopping it.
    */
  private def withConnectorRun[T](batches: Seq[Seq[String]], enrich: Boolean = true,
                                   sink: ConnectorPipeline.BulkSink = acceptAll)
                                  (inspect: StreamingQuery => T): T = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("graft-sg-run").toString
    val q = ConnectorPipeline.run(mem.toDF(), sink, cp, "host1", "stream1",
      triggerMs = 0L, enrich = enrich)
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      inspect(q)
    } finally q.stop()
  }

  test("connector run: one SQL execution per micro-batch") {
    // the sink used to post through `batch.foreachPartition`, which
    // started a second SQL execution per batch (a Row deserializer plan
    // and a start event carrying its plan string); posting from the
    // batch's planned rows runs inside the micro-batch's own execution
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val marker = "graft-sg-sql-executions-drained"
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s.description)
        case _ => ()
      }
      // listener events arrive in order: a job started after the query
      // stopped marks every execution event of the query as delivered
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          drained.countDown()
    }
    val begins = new java.util.concurrent.atomic.AtomicInteger
    val sink = new ConnectorPipeline.BulkSink {
      def post(events: Seq[String]): Boolean = true
      override def begin(batchId: Long): Unit = begins.incrementAndGet()
    }
    def line(o: Int) =
      s"""{"metadata":{"eventCreationTime":$o,"offset":$o},"event":{}}"""
    spark.sparkContext.addSparkListener(listener)
    try {
      val runId = withConnectorRun(Seq(Seq(line(1), line(2)), Seq(line(3)), Seq(line(4))),
        sink = sink)(_.runId.toString)
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val ours = starts.toArray(Array.empty[String]).count(d => d != null && d.contains(runId))
      assert(begins.get() == 3, s"batches that reached the sink: ${begins.get()}")
      assert(ours == begins.get(),
        s"$ours SQL executions for ${begins.get()} micro-batches")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connector R2 drops empty lines by byte length: no Length in the plan") {
    // `length` counts characters, walking every byte of a line only to
    // compare the count with zero; `octet_length` reads the byte count
    def assertNoLength(entry: String, q: StreamingQuery): Unit = {
      val plan = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      val lengths = plan.collect { case node => node.expressions }.flatten
        .flatMap(_.collect { case l: Length => l })
      assert(lengths.isEmpty, s"$entry: character-length test in the plan:\n$plan")
    }
    val line = """{"metadata":{"eventCreationTime":1,"offset":1},""" +
      """"event":{"AuditKeyValues":[{"Key":"k","ValueString":"v"}]}}"""
    for (enrich <- Seq(true, false))
      withConnectorRun(Seq(Seq(line, "")), enrich = enrich)(
        assertNoLength(s"run(enrich = $enrich)", _))

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val hunted = ConnectorPipeline.queryStream(mem.toDF(), "k = v", "host1",
        "stream1", promote = Seq("k"))
      .writeStream.format("memory").queryName("sg_connector_len")
      .outputMode("append").start()
    try {
      mem.addData(line, ""); hunted.processAllAvailable()
      assertNoLength("queryStream", hunted)
    } finally hunted.stop()
  }
}
