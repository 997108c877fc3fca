package graft

import graft.streaming.ConnectorPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** End-to-end Structured Streaming semantics: delivery, at-least-once
  * replay after sink failure, checkpoint restart without reprocessing,
  * supervised restarts — the R1/R3–R11/R15 surface. Watermark windows,
  * sessions and streaming dedup are the pipe language's streaming verbs
  * (HumioStreamSpec, StreamGuardSpec).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventLine(offset: Long, t: Long = 1648464000000L): String =
    s"""{"metadata": {"offset": $offset, "eventCreationTime": $t, "eventType": "T"}, "event": {"UserId": "u"}}"""

  import StreamingSpec.RecordingSink

  test("pipeline delivers parsed events through foreachBatch sink") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData((1L to 5L).map(eventLine(_)): _*)
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "testhost", "graft", triggerMs = 50L, bulkMaxSize = 2)
    q.processAllAvailable(); q.stop()
    val got = RecordingSink.received.asScala.toSeq
    assert(got.size == 5)
    assert(got.forall(_.contains("\"host\":\"testhost\"")))
  }

  test("CountingSink dedupes replayed batch attempts by micro-batch id") {
    // at-least-once delivery replays the last uncommitted batch under
    // the SAME id after a supervised restart; a blind counter would
    // record kept_up=true with inflated throughput on exactly the runs
    // that fell over. begin(id) on a re-seen id resets that batch's
    // tally, so the LAST attempt counts once.
    BenchStream.resetCounts()
    val s = new BenchStream.CountingSink
    s.begin(0L); assert(s.post(Seq("a", "b")) && s.post(Seq("c")))
    s.begin(1L); assert(s.post(Seq("d")))
    assert(BenchStream.shippedTotal == 4L)
    s.begin(1L); assert(s.post(Seq("d"))) // checkpoint replay of batch 1
    assert(BenchStream.shippedTotal == 4L,
      "a replayed batch must overwrite, not add, its delivered count")
    assert(BenchStream.replayedBatches.get() == 1)
    BenchStream.resetCounts()
  }

  test("AvailableNow drains everything, terminates, and resumes from the same WAL") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData((1L to 4L).map(eventLine(_)): _*)
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "testhost", "graft", triggerMs = 50L, availableNow = true)
    // the drain mode must TERMINATE on its own once the backlog is done
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(RecordingSink.received.asScala.size == 4)
    // a second scheduled run resumes from the checkpoint WAL: only the
    // NEW backlog ships, nothing replays
    RecordingSink.reset()
    mem.addData(eventLine(5), eventLine(6))
    val q2 = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "testhost", "graft", triggerMs = 50L, availableNow = true)
    assert(q2.awaitTermination(60000), "resumed drain must self-terminate")
    val got = RecordingSink.received.asScala.toSeq
    // offsets ride inside the JSON-escaped rawstring of the payload
    assert(got.size == 2 && got.forall(e =>
      e.contains("\\\"offset\\\": 5") || e.contains("\\\"offset\\\": 6")))
  }

  test("R7 raw mode ships undecorated lines — corrupt JSON included, empties dropped") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(eventLine(1), "definitely{not json", "", eventLine(2))
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "testhost", "graft", triggerMs = 50L, bulkMaxSize = 10, enrich = false)
    q.processAllAvailable(); q.stop()
    val got = RecordingSink.received.asScala.toSet
    // verbatim pass-through: nothing parsed, nothing enriched, corrupt kept
    assert(got == Set(eventLine(1), "definitely{not json", eventLine(2)))
    assert(!got.exists(_.contains("\"host\"")), "raw mode must not decorate")
  }

  test("metadata=false ships enriched events undecorated (app.py:129-132, --metadata off)") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(eventLine(1))
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "testhost", "graft", triggerMs = 50L, enrich = true, metadata = false)
    q.processAllAvailable(); q.stop()
    val got = RecordingSink.received.asScala.head
    assert(got.contains("\"timestamp\"") && got.contains("\"rawstring\""))
    assert(!got.contains("\"host\"") && !got.contains("\"stream\""),
      "metadata off must not decorate events")
  }

  test("HumioWire selects endpoint + payload shape by enrich mode (app.py:356-374)") {
    import ConnectorPipeline.HumioWire
    assert(HumioWire.endpoint(enrich = true) ==
      HumioWire.Endpoint("/api/v1/ingest/humio-structured", "events"))
    assert(HumioWire.endpoint(enrich = false) ==
      HumioWire.Endpoint("/api/v1/ingest/humio-unstructured", "messages"))
    // structured: events are JSON objects, embedded verbatim
    assert(HumioWire.body(enrich = true, Seq("""{"a":1}""", """{"b":2}""")) ==
      """[{"events": [{"a":1}, {"b":2}]}]""")
    // unstructured: raw strings, JSON-escaped
    assert(HumioWire.body(enrich = false, Seq("line \"x\"", "tab\there")) ==
      """[{"messages": ["line \"x\"", "tab\there"]}]""")
  }

  test("Shutdown.requestStop stops the active query cleanly with no restart (R16)") {
    import graft.streaming.Supervisor
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(eventLine(1))
    val cp = Files.createTempDirectory("graft-cp").toString
    val shutdown = new Supervisor.Shutdown
    val result = Supervisor.run(
      start = () => ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
        "h", "s", triggerMs = 50L),
      drain = q => { q.processAllAvailable(); shutdown.requestStop(); q.awaitTermination() },
      maxRestarts = 3, shutdown = Some(shutdown))
    assert(result.fatal.isEmpty && result.restarts == 0, s"clean stop, got $result")
    assert(RecordingSink.received.asScala.size == 1)
    // the stop committed its batch: a restart on the same checkpoint
    // delivers nothing new
    val q2 = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "h", "s", triggerMs = 50L)
    q2.processAllAvailable(); q2.stop()
    assert(RecordingSink.received.asScala.size == 1, "no replay after graceful stop")
  }

  test("failed sink POST fails the batch and replays: at-least-once, no loss") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData((1L to 3L).map(eventLine(_)): _*)
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(true), cp,
      "h", "s", triggerMs = 50L, bulkMaxSize = 10)
    // first batch fails; the query surfaces the error on processAllAvailable
    intercept[Exception] { q.processAllAvailable() }
    q.stop()
    // restart on the same checkpoint — the failed batch replays
    val q2 = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "h", "s", triggerMs = 50L, bulkMaxSize = 10)
    q2.processAllAvailable(); q2.stop()
    assert(RecordingSink.received.asScala.size == 3) // delivered exactly the lost batch
  }

  test("a poison KV line is dropped: every valid line delivered once, no batch fails") {
    // a null KV entry or a KV entry without a Key used to fail R5, so the
    // batch replayed the same line forever; R3 now drops it as corrupt
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    def poison(offset: Long, kv: String): String =
      s"""{"metadata": {"offset": $offset, "eventCreationTime": 1}, "event": {"AuditKeyValues": $kv}}"""
    val cp = Files.createTempDirectory("graft-cp").toString
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "h", "s", triggerMs = 50L, bulkMaxSize = 10)
    try {
      mem.addData(eventLine(1), poison(101, """[{"ValueString": "x"}]"""), eventLine(2))
      q.processAllAvailable()
      mem.addData(eventLine(3), poison(102, "[null]"), eventLine(4))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally q.stop()
    val offset = """\\"offset\\": (\d+)""".r
    val delivered = RecordingSink.received.asScala.toSeq
      .map(e => offset.findFirstMatchIn(e).get.group(1).toLong)
    assert(delivered.sorted == (1L to 4L), "every valid event once, no poison line")
  }

  test("checkpoint restart resumes past committed batches (app.py:38-58 upgraded)") {
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-cp").toString
    mem.addData(eventLine(1), eventLine(2))
    val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "h", "s", triggerMs = 50L)
    q.processAllAvailable(); q.stop()
    val afterFirst = RecordingSink.received.asScala.size
    mem.addData(eventLine(3))
    val q2 = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp,
      "h", "s", triggerMs = 50L)
    q2.processAllAvailable(); q2.stop()
    val total = RecordingSink.received.asScala.size
    assert(afterFirst == 2)
    assert(total == 3, "restart must deliver only the new event, not replay committed ones")
  }

  test("a checkpoint started under Spark's default manager resumes through run, twice, exactly") {
    import graft.streaming.LocalCheckpointFileManager
    import LocalCheckpointFileManager.ConfKey
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-cp").toFile
    def runOnce(from: Long, to: Long): Unit = {
      mem.addData((from to to).map(eventLine(_)): _*)
      val q = ConnectorPipeline.run(mem.toDF(), new RecordingSink(false), cp.toString,
        "h", "s", triggerMs = 50L)
      q.processAllAvailable(); q.stop()
    }
    val before = spark.conf.getOption(ConfKey)
    try {
      // a manager the session already names is kept by run
      spark.conf.set(ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
      runOnce(1, 3)
      assert(spark.conf.get(ConfKey) == classOf[FileContextBasedCheckpointFileManager].getName)
      assert(new java.io.File(cp, "offsets/.0.crc").exists() &&
        new java.io.File(cp, "commits/.0.crc").exists(),
        "the first run must leave Spark's default-manager checksum files")
      spark.conf.unset(ConfKey)
      runOnce(4, 6)
      assert(spark.conf.get(ConfKey) == classOf[LocalCheckpointFileManager].getName)
      runOnce(7, 9)
    } finally before match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
    // offsets ride inside the JSON-escaped rawstring of the payload
    val offset = """\\"offset\\": (\d+)""".r
    val delivered = RecordingSink.received.asScala.toSeq
      .map(e => offset.findFirstMatchIn(e).get.group(1).toLong)
    assert(delivered.sorted == (1L to 9L), "every event once: no loss, no duplicate")
  }

  test("Supervisor restarts a failed query from the checkpoint and delivers everything") {
    import graft.streaming.Supervisor
    RecordingSink.reset()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData((1L to 4L).map(eventLine(_)): _*)
    val cp = Files.createTempDirectory("graft-cp").toString
    // first attempt's sink rejects its first POST → batch fails → the
    // supervisor restarts; the replacement run replays the batch
    val result = Supervisor.run(
      start = () => ConnectorPipeline.run(mem.toDF(), new RecordingSink(true), cp,
        "h", "s", triggerMs = 50L, bulkMaxSize = 10),
      drain = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 3)
    assert(result.fatal.isEmpty)
    assert(result.restarts == 1, s"expected exactly one restart, got $result")
    assert(RecordingSink.received.asScala.size == 4, "replay delivers the failed batch")
  }

  test("Supervisor surfaces the error when the restart budget is exhausted") {
    import graft.streaming.Supervisor
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(eventLine(1))
    val cp = Files.createTempDirectory("graft-cp").toString
    val alwaysFail = new ConnectorPipeline.BulkSink {
      override def post(events: Seq[String]): Boolean = false
    }
    val result = Supervisor.run(
      start = () => ConnectorPipeline.run(mem.toDF(), alwaysFail, cp,
        "h", "s", triggerMs = 50L, bulkMaxSize = 10),
      drain = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 2)
    assert(result.restarts == 2 && result.fatal.nonEmpty)
  }

  test("stream-stream interval join: events match orders within the time bound") {
    implicit val sq = spark.sqlContext
    val evMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val orMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val ev = evMem.toDF().toDF("ev_ts", "ev_user", "event_id")
      .withWatermark("ev_ts", "1 hour")
    val or = orMem.toDF().toDF("or_ts", "or_user", "order_id")
      .withWatermark("or_ts", "1 hour")
    // event joins orders of the same user within the preceding 30 minutes
    val joined = ev.join(or,
      expr("""ev_user = or_user AND
              or_ts BETWEEN ev_ts - INTERVAL 30 MINUTES AND ev_ts"""))
    val q = joined.select("event_id", "order_id")
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.ProcessingTime(50L)).start()
    def t(min: Int) = new java.sql.Timestamp(3600000L + min * 60000L)
    orMem.addData((t(0), 1L, 100L), (t(0), 2L, 200L))
    evMem.addData((t(10), 1L, 1L),   // within 30 min of order 100 → match
                  (t(50), 1L, 2L),   // 50 min after → no match
                  (t(10), 3L, 3L))   // no such user → no match
    q.processAllAvailable()
    val rows = spark.sql("select event_id, order_id from ssj")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((1L, 100L)), s"only the in-window same-user pair joins, got $rows")
  }

  test("fromKafka: option mapping, fail-fast validation, and the kafka source path") {
    // kafkaOptions: connector-shaped defaults, extra overrides anything
    val opts = ConnectorPipeline.kafkaOptions("b1:9092,b2:9092", "audit")
    assert(opts("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(opts("subscribe") == "audit")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("failOnDataLoss") == "false")
    val tuned = ConnectorPipeline.kafkaOptions("b:9092", "t",
      Map("startingOffsets" -> "latest", "maxOffsetsPerTrigger" -> "5000"))
    assert(tuned("startingOffsets") == "latest" &&
      tuned("maxOffsetsPerTrigger") == "5000")
    // construction-time validation fires BEFORE any source lookup
    val e1 = intercept[IllegalArgumentException] {
      ConnectorPipeline.fromKafka(spark, Map("subscribe" -> "t"))
    }
    assert(e1.getMessage.contains("kafka.bootstrap.servers"))
    val e2 = intercept[IllegalArgumentException] {
      ConnectorPipeline.fromKafka(spark, Map("kafka.bootstrap.servers" -> "b:9092"))
    }
    assert(e2.getMessage.contains("topic selector"))
    // with valid options the construction reaches the DSv2 lookup for
    // the `kafka` format — this container ships Spark without the
    // kafka connector artifact, so the lookup itself names the source
    // (proving the format("kafka") wiring; with the jar on the
    // classpath the same call yields the value: STRING line relation)
    val e3 = intercept[Exception] {
      ConnectorPipeline.fromKafka(spark, opts)
    }
    assert(e3.getMessage.toLowerCase.contains("kafka"),
      s"expected the kafka source lookup, got: ${e3.getMessage}")
  }
}

object StreamingSpec {
  /** Top-level (serializable closure) recording sink; failFirst simulates
    * the Humio endpoint rejecting the first flush (app.py:157-162 retry
    * path). State lives in the companion so executor-side instances in
    * local mode share it.
    */
  class RecordingSink(failFirst: Boolean) extends ConnectorPipeline.BulkSink {
    override def post(events: Seq[String]): Boolean = {
      if (failFirst && RecordingSink.failures.incrementAndGet() == 1) false
      else { events.foreach(RecordingSink.received.add); true }
    }
  }
  object RecordingSink {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(): Unit = { received.clear(); failures.set(0) }
  }
}
