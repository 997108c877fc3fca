package perfbench

import graft.sources.{FalconTableProvider, StreamDesc, StubFalconServer}
import graft.streaming.ConnectorPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** The `ingest` workload: the connector itself, `ConnectorPipeline.run`
  * in enriched mode over [[Partitions]] stub Falcon partitions, with
  * back-to-back micro-batches (`triggerMs = 0`) capped at
  * [[MaxRowsPerTrigger]] rows, into the benchmark's own [[Sink]].
  *
  *  - Phase 1, steady: an open loop. One feeder thread pushes [[RateEps]]
  *    events/s on a fixed schedule, whatever the pipeline does; each
  *    line's eventCreationTime is its due time, and delivery latency runs
  *    from that time to the post. Latency is recorded for the events due
  *    in the `seconds` after a [[SettleSeconds]] settle period.
  *  - Phase 2, restart catch-up: the connector stops, [[Backlog]] lines
  *    arrive while it is down, and it restarts from its checkpoint; timed
  *    from the restart until every valid line is delivered.
  *
  * About 5% of the lines are empty or corrupt, at seeded positions; the
  * pipeline must drop exactly those. The seed also drives line bodies
  * and the partition of every event; the program sees only the lines.
  */
object Ingest {
  val Partitions = 4
  val Backlog = 240000
  /** Open-loop seconds before latency is recorded, so the window sees the
    * pipeline after its first batches and JIT compilation have settled. */
  val SettleSeconds = 6
  /** About a quarter of what this pipeline drains on a 4-core host
    * (~45 k/s): batches stay short, so latency is set by per-batch
    * overhead, and the headroom keeps the open loop from queueing when a
    * shared host takes CPU away (at half the drain rate, 20 % less CPU
    * doubled the median latency). */
  val RateEps = 10000
  val MaxRowsPerTrigger = 30000
  val BulkMaxSize = 200
  val InvalidShare = 0.05
  /** Lines drained through the pipeline in each set-up, enough for the
    * JIT to compile the parse and flatten paths before anything is timed. */
  val WarmUpLines = 40000
  /** Session refresh interval the stub announces (refresh at 85%). */
  val RefreshIntervalSec = 10
  val App = "bench"

  /** Every line of a run, decided up front from the seed: partition and
    * validity per event, so the accounting knows what must arrive. Line
    * bodies are rendered from (seed, index) when pushed. */
  final class Plan(seed: Long, val total: Int) {
    val partition = new Array[Byte](total)
    val kind = new Array[Byte](total)           // 0 valid, 1 empty, 2 corrupt, 3 no metadata
    val offset = new Array[Int](total)
    val perPartition = new Array[Int](Partitions)
    locally {
      val rnd = new SplittableRandom(seed)
      var i = 0
      while (i < total) {
        val p = rnd.nextInt(Partitions)
        partition(i) = p.toByte
        kind(i) = (if (rnd.nextDouble() < InvalidShare) 1 + rnd.nextInt(3) else 0).toByte
        offset(i) = perPartition(p)
        perPartition(p) += 1
        i += 1
      }
    }
    /** Whether (partition, offset) holds a valid line. */
    val validAt: Array[Array[Boolean]] = {
      val v = perPartition.map(n => new Array[Boolean](n))
      (0 until total).foreach(i => v(partition(i))(offset(i)) = kind(i) == 0)
      v
    }
    def invalid: Int = kind.count(_ != 0)
    def validIn(from: Int, until: Int): Int = (from until until).count(kind(_) == 0)
    def validOf(p: Int): Int = validAt(p).count(identity)
  }

  private val Ops = Array("twoFactorAuthenticate", "userAuthenticate",
    "changePassword", "createUser", "detection_update", "revokeSession")
  private val Types = Array("AuthActivityAuditEvent", "UserActivityAuditEvent",
    "DetectionSummaryEvent")
  private val Keys = Array("target", "actor", "quota", "scope", "region", "client")

  /** The line for event `i`, due at `dueMs`. */
  def line(plan: Plan, seed: Long, i: Int, dueMs: Long): String = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    val p = plan.partition(i)
    val o = plan.offset(i)
    plan.kind(i) match {
      case 1 => ""
      case 2 => s"""{"metadata": {"customerIDString": "cid-$p", "offset": $o, "eventT"""
      case 3 => s"""{"event": {"UserId": "orphan-$o", "Success": false}}"""
      case _ =>
        val kvs = (0 until 1 + rnd.nextInt(5)).map { _ =>
          s"""{"Key": "${Keys(rnd.nextInt(Keys.length))}", "ValueString": "v${rnd.nextInt(1000)}"}"""
        }.mkString(", ")
        s"""{"metadata": {"customerIDString": "cid-$p", "offset": $o, """ +
          s""""eventType": "${Types(rnd.nextInt(Types.length))}", """ +
          s""""eventCreationTime": $dueMs, "version": "1.0"}, "event": {""" +
          s""""UserId": "user-${rnd.nextInt(5000)}@example.com", """ +
          s""""UserIp": "10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}", """ +
          s""""OperationName": "${Ops(rnd.nextInt(Ops.length))}", """ +
          s""""ServiceName": "svc-${rnd.nextInt(40)}", "Success": ${rnd.nextBoolean()}, """ +
          s""""UTCTimestamp": ${dueMs / 1000}, "AuditKeyValues": [$kvs]}}"""
    }
  }

  /** Exact delivery accounting. For every (partition, offset) it keeps
    * the batch that first delivered it: a second delivery in the same
    * batch id is a replay (at-least-once, not a failure); in another
    * batch it is a duplicate. Posts also record (due ms, posted us) of
    * steady-phase events for the latency figures. */
  object Sink {
    @volatile var plan: Plan = _
    @volatile var firstBatch: Array[Array[Int]] = _
    /** Events due in [from, until) have their latency recorded. */
    @volatile var latencyWindow: (Long, Long) = (Long.MaxValue, Long.MaxValue)
    val currentBatch = new AtomicLong(-1)
    val seenBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val replayedBatches = new AtomicInteger(0)
    val replayedEvents = new AtomicLong(0)
    val unknown = new AtomicLong(0)
    val duplicated = new Array[AtomicLong](Partitions).map(_ => new AtomicLong(0))
    val validDelivered = new AtomicLong(0)
    val delivered = new AtomicLong(0)
    val posts = new AtomicLong(0)
    val bytes = new AtomicLong(0)
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()

    def reset(p: Plan): Unit = {
      plan = p
      firstBatch = p.perPartition.map(n => Array.fill(n)(-1))
      latencyWindow = (Long.MaxValue, Long.MaxValue)
      currentBatch.set(-1); seenBatches.clear(); replayedBatches.set(0)
      replayedEvents.set(0); unknown.set(0); duplicated.foreach(_.set(0))
      validDelivered.set(0); delivered.set(0); posts.set(0); bytes.set(0)
      latencies.clear()
    }

    private val OffsetTag = "offset\\\": "

    private def digits(s: String, from: Int): Long = {
      var i = from
      var v = 0L
      while (i < s.length && Character.isDigit(s.charAt(i))) { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
      v
    }

    /** One bulk post. An enriched event starts
      * `{"timestamp":<due>,"rawstring":"{\"metadata\": {\"customerIDString\": \"cid-<p>\", \"offset\": <o>,`
      * so due time, partition and offset are read without a JSON parse. */
    def post(events: Seq[String]): Unit = {
      val now = java.time.Instant.now()
      val postedUs = now.getEpochSecond * 1000000L + now.getNano / 1000
      val batch = currentBatch.get().toInt
      val valid = plan.validAt
      val fb = firstBatch
      val (from, until) = latencyWindow
      val lat = new mutable.ArrayBuilder.ofLong
      var chars = 0L
      events.foreach { e =>
        val due = digits(e, "{\"timestamp\":".length)
        val c = e.indexOf("cid-")
        val oi = if (c < 0) -1 else e.indexOf(OffsetTag, c)
        val p = if (oi < 0) -1 else digits(e, c + 4).toInt
        val o = if (oi < 0) -1 else digits(e, oi + OffsetTag.length).toInt
        if (p < 0 || p >= fb.length || o >= fb(p).length || !valid(p)(o))
          unknown.incrementAndGet()
        else {
          fb(p).synchronized {
            if (fb(p)(o) == -1) { fb(p)(o) = batch; validDelivered.incrementAndGet() }
            else if (fb(p)(o) == batch) replayedEvents.incrementAndGet()
            else duplicated(p).incrementAndGet()
          }
          if (due >= from && due < until) { lat += due; lat += postedUs }
        }
        chars += e.length
      }
      bytes.addAndGet(chars)
      delivered.addAndGet(events.size)
      posts.incrementAndGet()
      val l = lat.result()
      if (l.nonEmpty) latencies.add(l)
    }

    def deliveredValid(p: Int): Int = firstBatch(p).count(_ >= 0)
  }

  class BulkSink extends ConnectorPipeline.BulkSink {
    override def begin(batchId: Long): Unit = {
      if (!Sink.seenBatches.add(batchId)) Sink.replayedBatches.incrementAndGet()
      Sink.currentBatch.set(batchId)
    }
    override def post(events: Seq[String]): Boolean = {
      Trace.span("sink.post")(_ => Sink.post(events))
      true
    }
  }

  def push(plan: Plan, seed: Long, i: Int, dueMs: Long): Unit =
    StubFalconServer.push(App, plan.partition(i), plan.offset(i), line(plan, seed, i, dueMs))

  def run(env: Env): Map[String, Any] = {
    val steadyEvents = RateEps * (SettleSeconds + env.seconds)
    val plan = new Plan(env.seed, steadyEvents + Backlog)
    val backlogValid = plan.validIn(steadyEvents, plan.total)
    val allValid = plan.total - plan.invalid
    var spark: SparkSession = null
    val setups = Env.timedSetups { () =>
      spark = Env.session(env)
      StubFalconServer.reset()
      warmUp(spark, env)
      StubFalconServer.register(App,
        (0 until Partitions).map(p => StreamDesc(p, refreshIntervalSec = RefreshIntervalSec)))
      Sink.reset(plan)
    }
    Trace.enabled = env.trace
    val layers = if (env.trace) Some(new Layers(spark)) else None
    val errors = mutable.ArrayBuffer.empty[String]
    val refreshes0 = StubFalconServer.refreshCalls.get()
    val codegen0 = Codegen.read()
    val ckpt = env.workDir.resolve("tmp").resolve("ingest-checkpoint").toString
    def start(): StreamingQuery =
      ConnectorPipeline.run(source(spark), new BulkSink, ckpt,
        host = "bench-host", streamId = "falcon", triggerMs = 0L,
        bulkMaxSize = BulkMaxSize, enrich = true)
    def stop(q: StreamingQuery): Unit = {
      q.exception.foreach(e => errors += s"query failed: ${e.getMessage}")
      q.stop()
    }

    // phase 1: steady open loop; latency counts after the settle period
    val steadyStartMs = System.currentTimeMillis() + 200
    val windowFromMs = steadyStartMs + SettleSeconds * 1000L
    val windowUntilMs = windowFromMs + env.seconds * 1000L
    Sink.latencyWindow = (windowFromMs, windowUntilMs)
    val lagMs = new Array[Float](steadyEvents)
    val feeder = new Thread(() => {
      var i = 0
      while (i < steadyEvents) {
        val wait = due(steadyStartMs, i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val now = System.currentTimeMillis()
        // push everything due by now, each stamped with its own due time
        while (i < steadyEvents && due(steadyStartMs, i) <= now) {
          push(plan, env.seed, i, due(steadyStartMs, i))
          lagMs(i) = (System.currentTimeMillis() - due(steadyStartMs, i)).toFloat
          i += 1
        }
      }
    }, "perfbench-feeder")
    feeder.setDaemon(true)
    val live = start()
    var windowCpuS = 0.0
    Trace.span("ingest.steady") { _ =>
      feeder.start()
      Thread.sleep(math.max(0L, windowFromMs - System.currentTimeMillis()))
      val wcpu0 = Env.processCpuNs()
      Thread.sleep(math.max(0L, windowUntilMs - System.currentTimeMillis()))
      windowCpuS = (Env.processCpuNs() - wcpu0) / 1e9
      feeder.join()
      val steadyValid = plan.validIn(0, steadyEvents)
      if (!await(Sink.validDelivered.get() >= steadyValid, 30, live))
        errors += "steady phase did not drain within 30 s"
    }
    stop(live)

    // phase 2: restart catch-up. The lines that arrived while the
    // connector was down wait in the stub; it restarts from its checkpoint
    val downSinceMs = System.currentTimeMillis()
    (steadyEvents until plan.total).foreach(i =>
      push(plan, env.seed, i, downSinceMs + (i - steadyEvents) * 10000L / Backlog))
    val catchupStartMs = System.currentTimeMillis()
    val cpu0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val restarted = Trace.span("ingest.restart")(_ => start())
    val caughtUp = Trace.span("ingest.catchup")(_ =>
      await(Sink.validDelivered.get() >= allValid, 60, restarted))
    val catchupS = Env.secondsSince(t0)
    val catchupCpuS = (Env.processCpuNs() - cpu0) / 1e9
    if (!caughtUp) errors += s"catch-up delivered ${Sink.validDelivered.get()} of $allValid valid events"
    stop(restarted)
    val refreshes = StubFalconServer.refreshCalls.get() - refreshes0
    val codegen = {
      val c = Codegen.read()
      Codegen.Reading(c.compiles - codegen0.compiles, c.compileMs - codegen0.compileMs)
    }

    writeLatencies(env, lagMs)
    val accounting = Map(
      "partitions" -> (0 until Partitions).map { p =>
        val generatedValid = plan.validOf(p)
        val got = Sink.deliveredValid(p)
        Map("partition" -> p, "generated_valid" -> generatedValid,
          "delivered_valid" -> got, "lost" -> (generatedValid - got),
          "duplicated" -> Sink.duplicated(p).get())
      },
      "generated" -> plan.total, "generated_valid" -> allValid,
      "injected_invalid" -> plan.invalid,
      "unknown" -> Sink.unknown.get(),
      "dropped" -> (plan.total - Sink.validDelivered.get() - Sink.unknown.get()),
      "replayed_batches" -> Sink.replayedBatches.get(),
      "replayed_events" -> Sink.replayedEvents.get())
    val layerValues = layers.map { l =>
      l.settle()
      streamLayers(l, steadyStartMs, windowFromMs, windowUntilMs, catchupStartMs,
        backlogValid, refreshes, codegen)
    }.getOrElse(Map.empty)
    val result = Map("setup_s" -> setups, "catchup_s" -> catchupS,
      "catchup_cpu_s" -> catchupCpuS, "window_cpu_s" -> windowCpuS, "backlog" -> Backlog,
      "backlog_valid" -> backlogValid, "rate_eps" -> RateEps,
      "steady_events" -> steadyEvents, "accounting" -> accounting,
      "sink" -> Map("posts" -> Sink.posts.get(), "events" -> Sink.delivered.get(),
        "bytes" -> Sink.bytes.get(), "bulk_max" -> BulkMaxSize),
      "errors" -> errors, "layers" -> layerValues)
    // the stub plays the remote Falcon service: drop what it holds so the
    // retained heap measures the connector's side only
    StubFalconServer.reset()
    Sink.reset(new Plan(0, 0))
    result
  }

  /** Due time of steady event `i`: the open loop's fixed schedule. */
  private def due(startMs: Long, i: Int): Long = startMs + i.toLong * 1000L / RateEps

  private def source(spark: SparkSession) =
    spark.readStream.format(classOf[FalconTableProvider].getName)
      .option("appId", App)
      .option("maxRowsPerTrigger", MaxRowsPerTrigger.toString)
      .load()

  /** Polls `cond` every 2 ms for up to `limitS` seconds, giving up early
    * if the query dies. */
  private def await(cond: => Boolean, limitS: Int,
                    q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    val deadline = System.nanoTime() + limitS * 1000000000L
    while (!cond && q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
    cond
  }

  /** Set-up warm-up: one drain through the same pipeline on its own stub
    * app and checkpoint, so the timed query does not pay the JVM's first
    * codegen, streaming start-up and JIT compilation of the hot path. */
  private def warmUp(spark: SparkSession, env: Env): Unit = {
    val warm = new Plan(env.seed + 1, WarmUpLines)
    StubFalconServer.register("warm", (0 until Partitions).map(p => StreamDesc(p, 1800)))
    (0 until warm.total).foreach(i => StubFalconServer.push("warm", warm.partition(i),
      warm.offset(i), line(warm, env.seed + 1, i, System.currentTimeMillis())))
    Sink.reset(warm)
    val dir = java.nio.file.Files.createTempDirectory(
      env.workDir.resolve("tmp"), "warm").toString
    ConnectorPipeline.run(
      spark.readStream.format(classOf[FalconTableProvider].getName)
        .option("appId", "warm").load(),
      new BulkSink, dir, "h", "s", availableNow = true).awaitTermination()
  }

  private def writeLatencies(env: Env, lagMs: Array[Float]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(env.outDir.resolve("latency.bin").toFile), 1 << 16))
    try Sink.latencies.forEach(a => a.foreach(out.writeLong)) finally out.close()
    val gen = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(env.outDir.resolve("genlag.bin").toFile), 1 << 16))
    try lagMs.foreach(gen.writeFloat) finally gen.close()
  }

  /** Per-layer numbers from the engine's streaming progress and task
    * metrics. Source and micro-batch figures are medians over the batches
    * that start in the latency window (where per-batch overhead sets
    * latency); transform CPU per event is over the catch-up (where
    * per-event work sets throughput). Each batch is also recorded as a
    * span. */
  private def streamLayers(l: Layers, steadyStartMs: Long, windowFromMs: Long,
                           windowUntilMs: Long, catchupStartMs: Long,
                           backlogValid: Int, refreshes: Int,
                           compiles: Codegen.Reading): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    def offsetSum(json: String): Long =
      if (json == null) 0L else graft.sources.FalconOffset.parse(json).offsets.values.sum
    val batches = l.progress.asScala.toSeq.filter(_.numInputRows > 0).map { pr =>
      val startMs = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      (startMs, d, pr.numInputRows, pr.sources.headOption.map(s => offsetSum(s.startOffset)).getOrElse(0L))
    }
    batches.foreach { case (startMs, d, _, _) =>
      val total = d.getOrElse("triggerExecution", 0L)
      val id = Trace.record("batch", 0L, Trace.fromWallMs(startMs), Trace.fromWallMs(startMs + total))
      // the engine reports child durations only; they are laid end to end
      // in the order MicroBatchExecution runs them
      var at = startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val ms = d.getOrElse(k, 0L)
          Trace.record(s"batch.$k", id, Trace.fromWallMs(at), Trace.fromWallMs(at + ms))
          at += ms
        }
    }
    val steady = batches.filter(b => b._1 >= windowFromMs && b._1 < windowUntilMs)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    def stMed(k: String): Double = med(steady.map(_._2.getOrElse(k, 0L).toDouble))
    // lag at a steady batch: lines due by its start that it found unread
    val lag = steady.map { case (startMs, _, _, start) =>
      ((startMs - steadyStartMs) * RateEps / 1000L - start).toDouble
    }
    val catchupTasks = l.tasks.asScala.filter(_.finishMs >= catchupStartMs)
    val allTasks = l.tasks.asScala.filter(_.finishMs >= steadyStartMs).toSeq
    val jobs = l.jobs.values.asScala.filter(_.startMs >= steadyStartMs).toSeq
    val mb = 1024.0 * 1024.0
    Map(
      "source.latest_offset_ms" -> stMed("latestOffset"),
      "source.get_batch_ms" -> stMed("getBatch"),
      "source.lag_events" -> med(lag),
      "source.refreshes" -> refreshes,
      "stream.batches" -> batches.size,
      "stream.rows_per_batch" -> med(steady.map(_._3.toDouble)),
      "stream.planning_ms" -> stMed("queryPlanning"),
      "stream.wal_ms" -> med(steady.map(b => (b._2.getOrElse("walCommit", 0L) +
        b._2.getOrElse("commitOffsets", 0L)).toDouble)),
      "stream.add_batch_ms" -> stMed("addBatch"),
      "transform.task_cpu_us_per_event" ->
        (catchupTasks.map(_.cpuNs).sum / 1000.0 / math.max(backlogValid, 1)),
      "codegen.compiles" -> compiles.compiles, "codegen.compile_ms" -> compiles.compileMs,
      "jobs" -> jobs.size, "stages" -> jobs.map(_.stages).sum, "tasks" -> allTasks.size,
      "scheduler_delay_ms" -> allTasks.map(_.schedDelayMs).sum,
      "task_run_ms" -> allTasks.map(_.runMs).sum,
      "task_cpu_ms" -> allTasks.map(_.cpuNs).sum / 1000000L,
      "gc_ms" -> allTasks.map(_.gcMs).sum,
      "input_mb" -> allTasks.map(_.inputBytes).sum / mb,
      "shuffle_write_mb" -> allTasks.map(_.shuffleWriteBytes).sum / mb,
      "shuffle_read_mb" -> allTasks.map(_.shuffleReadBytes).sum / mb,
      "spill_mb" -> allTasks.map(_.spillBytes).sum / mb)
  }
}
