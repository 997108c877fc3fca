package graft

import graft.query.HumioQuery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The pipe language on Structured Streaming: [[HumioQuery.runStream]]
  * compiles the watermark-safe verb subset onto a MemoryStream and the
  * emitted rows must match the batch twin run over the same events.
  */
class HumioStreamSpec extends SparkSpec {
  import spark.implicits._

  private def toEvents(df: DataFrame): DataFrame =
    df.select(col("_1").as("event_id"), col("_2").as("event_type"),
      col("_3").as("value"), to_timestamp(col("_4")).as("ts"))

  test("streaming timechart emits incrementally and matches the batch twin") {
    val q = "event_type = click | _v2 := value * 2 | " +
      "timechart(span=1h, function=sum(_v2)) | "
    val batch1 = Seq(
      (1L, "click", 10.0, "2024-03-01 00:10:00"),
      (2L, "click", 20.0, "2024-03-01 00:50:00"),
      (3L, "view", 99.0, "2024-03-01 00:20:00"),   // filtered out
      (4L, "click", 5.0, "2024-03-01 01:15:00"))
    val batch2 = Seq(
      (5L, "click", 7.0, "2024-03-01 01:40:00"),
      (6L, "click", 1.0, "2024-03-01 02:05:00"),
      // sentinel far in the future: advances the watermark so every real
      // bucket closes and emits. It must SURVIVE the filter — Catalyst
      // pushes the filter below the watermark collector, so a filtered-
      // out sentinel would never advance it; its own 09:00 bucket stays
      // open forever and is excluded from the comparison below
      (7L, "click", 0.0, "2024-03-01 09:00:00"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_tc")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); query.processAllAvailable()
      mem.addData(batch2: _*); query.processAllAvailable()
      val streamed = spark.table("hq_tc").as[(Long, Double)].collect().toSet
      val expected = HumioQuery.run(toEvents((batch1 ++ batch2).toDF()), q)
        .as[(Long, Double)].collect().toSet
        .filter(_._1 < epochMs("2024-03-01 09:00:00"))   // sentinel bucket never closes
      assert(streamed == expected)
      assert(expected.size == 3)   // 00:00, 01:00, 02:00 buckets
    } finally query.stop()
  }

  test("streaming timechart drops events later than the watermark") {
    val q = "timechart(span=1h)"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("hq_late")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click", 1.0, "2024-03-01 00:30:00"),
        (2L, "click", 1.0, "2024-03-01 03:00:00"))
      query.processAllAvailable()
      // watermark is now 02:50; this event's 00:00 window closed long ago
      mem.addData((3L, "click", 1.0, "2024-03-01 00:40:00"))
      query.processAllAvailable()
      mem.addData((4L, "click", 1.0, "2024-03-01 06:00:00"))
      query.processAllAvailable()
      val got = spark.table("hq_late").as[(Long, Long)].collect().toMap
      // the 00:00 bucket emitted with ONE event — the late straggler was
      // dropped by the state store (batch run would count 2)
      assert(got(epochMs("2024-03-01 00:00:00")) == 1L)
      assert(got(epochMs("2024-03-01 03:00:00")) == 1L)
    } finally query.stop()
  }

  test("streaming session compiles to session_window with batch-equal boundaries") {
    val q = "session(field=event_type, maxpause=10m)"
    val events = Seq(
      (1L, "u1", 0.0, "2024-03-01 00:00:00"),
      (2L, "u1", 0.0, "2024-03-01 00:05:00"),   // same session (gap 5m)
      (3L, "u1", 0.0, "2024-03-01 00:30:00"),   // new session (gap 25m)
      (4L, "u2", 0.0, "2024-03-01 00:02:00"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "5 minutes")
    val query = out.writeStream.format("memory").queryName("hq_sess")
      .outputMode("append").start()
    try {
      mem.addData(events: _*); query.processAllAvailable()
      mem.addData((9L, "u3", 0.0, "2024-03-01 08:00:00")); query.processAllAvailable()
      mem.addData((10L, "u3", 0.0, "2024-03-01 09:00:00")); query.processAllAvailable()
      val streamed = spark.table("hq_sess")
        .where(col("event_type") =!= "u3")
        .select("event_type", "_session_start", "_count")
        .as[(String, Long, Long)].collect().toSet
      // batch twin: per-event session index -> per-session aggregate
      val batchTwin = HumioQuery.run(toEvents(events.toDF()), q)
        .groupBy(col("event_type"), col("_session"))
        .agg(min(unix_millis(col("ts"))).as("start"), count(lit(1)).as("n"))
        .select("event_type", "start", "n")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batchTwin)
      assert(streamed.size == 3)   // u1 twice, u2 once
    } finally query.stop()
  }

  test("batch-only verbs still refuse streaming input with their own message") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val st = toEvents(mem.toDF())
    Seq("transpose(header=event_type)", "tail(3)").foreach { q =>
      val e = intercept[IllegalArgumentException] {
        HumioQuery.runStream(st, q)
      }
      assert(e.getMessage.contains("batch stage"), s"$q: ${e.getMessage}")
    }
    // window() streams — but only over a bucketed stream: on raw events
    // there are no bucket windows to slide over
    val eWin = intercept[IllegalArgumentException] {
      HumioQuery.runStream(st, "window(value)")
    }
    assert(eWin.getMessage.contains("timechart() or bucket() stage"),
      eWin.getMessage)
    // counterAsRate streams per series — but ONLY per series: the
    // global (no by=) form has no streaming order to lag over
    val eRate = intercept[IllegalArgumentException] {
      HumioQuery.runStream(st, "counterAsRate(value)")
    }
    assert(eRate.getMessage.contains("needs by="), eRate.getMessage)
    // join({sub}) on a stream still needs the within= band (unbanded
    // state never expires) — mode=left and limit=n>1 dedup now stream
    val eJoin = intercept[IllegalArgumentException] {
      HumioQuery.runStream(st,
        "join({event_type = click | select(ts, value)}, field=event_type)")
    }
    assert(eJoin.getMessage.contains("within="), eJoin.getMessage)
    intercept[IllegalArgumentException] {
      HumioQuery.runStream(st.drop("ts"), "event_type = click")
    }
  }

  test("streaming window() chains a sliding aggregate over the bucket " +
    "stream and matches the batch twin on dense buckets") {
    // moving 2-bucket average of hourly sums, per series — the chained
    // streaming aggregation: timechart closes buckets in append mode,
    // the sliding window (width 2h, slide 1h) smooths them
    val q = "timechart(span=1h, event_type, function=sum(value)) | " +
      "window(_sum, function=avg, buckets=2, by=event_type)"
    val events = Seq(
      (1L, "click", 10.0, "2024-03-01 00:10:00"),
      (2L, "click", 20.0, "2024-03-01 00:40:00"),
      (3L, "view",  6.0, "2024-03-01 00:20:00"),
      (4L, "click", 40.0, "2024-03-01 01:15:00"),
      (5L, "view",  2.0, "2024-03-01 01:30:00"),
      (6L, "click", 8.0, "2024-03-01 02:05:00"))
    val sentinel = (7L, "click", 0.0, "2024-03-01 09:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_win")
      .outputMode("append").start()
    try {
      mem.addData(events.take(3): _*); query.processAllAvailable()
      mem.addData(events.drop(3) :+ sentinel: _*); query.processAllAvailable()
      val streamed = spark.table("hq_win")
        .as[(Long, String, Double, Double)].collect().toSet
      val cut = epochMs("2024-03-01 09:00:00")
      val expected = HumioQuery.run(toEvents((events :+ sentinel).toDF()), q)
        .as[(Long, String, Double, Double)].collect().toSet
        .filter(_._1 < cut)   // the sentinel's own bucket never closes
      assert(streamed.filter(_._1 < cut) == expected,
        s"streamed=$streamed expected=$expected")
      // the moving average really smooths: click 01:00 = avg(30, 40)
      val click1 = streamed.find(r => r._2 == "click" && r._1 == epochMs("2024-03-01 01:00:00")).get
      assert(click1._4 == 35.0, s"click@01:00 moving avg: $click1")
      // first bucket is a partial frame in both engines: avg of itself
      val click0 = streamed.find(r => r._2 == "click" && r._1 == epochMs("2024-03-01 00:00:00")).get
      assert(click0._4 == 30.0, s"click@00:00 partial frame: $click0")
    } finally query.stop()
  }

  test("streaming dedup collapses at-least-once redelivery to effectively-once") {
    val q = "dedup(event_id)"
    val a = (1L, "click", 1.0, "2024-03-01 00:10:00")
    val b = (2L, "view", 2.0, "2024-03-01 00:20:00")
    val c = (3L, "click", 3.0, "2024-03-01 01:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_dedup")
      .outputMode("append").start()
    try {
      // at-least-once delivery: a duplicated within a batch, b
      // redelivered across batches (still inside the watermark window)
      mem.addData(a, b, a); query.processAllAvailable()
      mem.addData(b, c); query.processAllAvailable()
      val streamed = spark.table("hq_dedup")
        .select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect().toSeq
      assert(streamed.size == 3, s"effectively-once violated: $streamed")
      // agreement with the batch dedup() on the drained stream: the
      // redeliveries are identical rows, so first-arrival (stream) and
      // latest (batch) pick the same events
      val batchTwin = HumioQuery.run(toEvents(Seq(a, b, a, b, c).toDF()), q)
        .select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect().toSeq
      assert(streamed.toSet == batchTwin.toSet)
      assert(batchTwin.size == 3)
    } finally query.stop()
  }

  test("streaming counterAsRate matches the batch twin; out-of-order rows rate NULL") {
    val q = "counterAsRate(value, by=event_type)"
    // two interleaved series, monotonic counters with one reset (u1 #5)
    val inOrder = Seq(
      (1L, "u1", 100.0, "2024-03-01 00:00:00"),
      (2L, "u2", 10.0, "2024-03-01 00:00:30"),
      (3L, "u1", 160.0, "2024-03-01 00:01:00"),  // Δ60/60s = 1.0
      (4L, "u2", 40.0, "2024-03-01 00:01:30"),   // Δ30/60s = 0.5
      (5L, "u1", 20.0, "2024-03-01 00:02:00"),   // reset: NULL
      (6L, "u1", 80.0, "2024-03-01 00:03:00"))   // Δ60/60s = 1.0
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("hq_srate")
      .outputMode("append").start()
    try {
      // split mid-series across micro-batches: state carries u1's #3 and
      // u2's #4 into the second batch
      mem.addData(inOrder.take(4): _*); query.processAllAvailable()
      mem.addData(inOrder.drop(4): _*); query.processAllAvailable()
      val streamed = spark.table("hq_srate").select("event_id", "_rate")
        .as[(Long, Option[Double])].collect().toMap
      val batchTwin = HumioQuery.run(toEvents(inOrder.toDF()), q)
        .select("event_id", "_rate")
        .as[(Long, Option[Double])].collect().toMap
      assert(streamed == batchTwin, s"streamed=$streamed batch=$batchTwin")
      assert(batchTwin(3L).contains(1.0) && batchTwin(4L).contains(0.5)
        && batchTwin(5L).isEmpty && batchTwin(6L).contains(1.0))
      // a row arriving BEHIND its series' state: NULL rate, state
      // untouched — the next in-order row rates against #6, not #7
      mem.addData((7L, "u1", 70.0, "2024-03-01 00:00:45")); query.processAllAvailable()
      mem.addData((10L, "u1", 140.0, "2024-03-01 00:04:00")); query.processAllAvailable()
      // same-ts row with a SMALLER event_id in a later batch: behind the
      // state in (ts, event_id) order — NULL rate, state untouched, so
      // the next in-order row rates against #10's value, not #9's
      mem.addData((9L, "u1", 999.0, "2024-03-01 00:04:00")); query.processAllAvailable()
      mem.addData((11L, "u1", 200.0, "2024-03-01 00:05:00")); query.processAllAvailable()
      // a NULL-ts row has no event-time position: NULL rate, state kept
      mem.addData((12L, "u1", 5.0, null)); query.processAllAvailable()
      mem.addData((13L, "u1", 260.0, "2024-03-01 00:06:00")); query.processAllAvailable()
      val tail = spark.table("hq_srate").select("event_id", "_rate")
        .as[(Long, Option[Double])].collect().toMap
      assert(tail(7L).isEmpty, "out-of-order row must rate NULL")
      assert(tail(10L).contains(1.0), s"state must survive the late row: ${tail(10L)}")
      assert(tail(9L).isEmpty, "same-ts smaller-eid row must rate NULL")
      assert(tail(11L).contains(1.0),
        s"rate must use #10's value (tiebreak kept state): ${tail(11L)}")
      assert(tail(12L).isEmpty, "null-ts row must rate NULL")
      assert(tail(13L).contains(1.0),
        s"state must survive the null-ts row: ${tail(13L)}")
    } finally query.stop()
  }

  test("stream-static lookup() broadcast-enriches and matches the batch twin") {
    // the dimension is a bounded STATIC table: a stream-static broadcast
    // equi-join keeps no stream-side state and is watermark-safe
    val dim = Seq(("click", 10.0), ("view", 20.0)).toDF("etype", "weight")
    val q = "lookup(dim, field=event_type, column=etype) | " +
      "wv := value * weight | select(event_id, event_type, wv)"
    val events = Seq(
      (1L, "click", 1.0, "2024-03-01 00:10:00"),
      (2L, "view", 2.0, "2024-03-01 00:20:00"),
      (3L, "error", 9.0, "2024-03-01 00:30:00"),   // strict: dropped
      (4L, "click", 4.0, "2024-03-01 01:00:00"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q,
      watermark = "30 minutes", tables = Map("dim" -> dim))
    val query = out.writeStream.format("memory").queryName("hq_lookup")
      .outputMode("append").start()
    try {
      mem.addData(events.take(2): _*); query.processAllAvailable()
      mem.addData(events.drop(2): _*); query.processAllAvailable()
      val streamed = spark.table("hq_lookup")
        .as[(Long, String, Double)].collect().toSet
      val batchTwin = HumioQuery.run(toEvents(events.toDF()), q,
          tables = Map("dim" -> dim))
        .as[(Long, String, Double)].collect().toSet
      assert(streamed == batchTwin)
      assert(streamed == Set((1L, "click", 10.0), (2L, "view", 40.0),
        (4L, "click", 40.0)))
    } finally query.stop()
  }

  test("stream-stream join(within=) correlates and matches the batch twin") {
    // banded self-correlate: every event pairs with clicks sharing its
    // key within ±30 min. Both join inputs are the SAME watermarked
    // stream; the band in the condition is what bounds the join state.
    val q = "u := event_id % 2 | " +
      "join({event_type = click | select(ts, u, value)}, " +
      "field=u, key=u, within=30m, include=[value]) | " +
      "select(event_id, value)"
    val events = Seq(
      (1L, "click", 1.0, "2024-03-01 00:00:00"),   // u=1
      (2L, "error", 0.0, "2024-03-01 00:10:00"),   // u=0: no click in band
      (3L, "error", 0.0, "2024-03-01 00:20:00"),   // u=1: clicks 1 and 5 in band
      (4L, "click", 4.0, "2024-03-01 02:00:00"),   // u=0: only itself in band
      (5L, "click", 5.0, "2024-03-01 00:45:00"))   // u=1: 45m from click 1 — out
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_ssjoin")
      .outputMode("append").start()
    try {
      mem.addData(events.take(3): _*); query.processAllAvailable()
      mem.addData(events.drop(3): _*); query.processAllAvailable()
      val streamed = spark.table("hq_ssjoin")
        .as[(Long, Double)].collect().toSeq.sorted
      val batchTwin = HumioQuery.run(toEvents(events.toDF()), q)
        .as[(Long, Double)].collect().toSeq.sorted
      assert(streamed == batchTwin, s"stream $streamed vs batch $batchTwin")
      // the correlate we planted: clicks pair with themselves (Δ=0),
      // event 3 sees clicks 1 (20m) and 5 (25m); 2 has no u=0 click in
      // band; click 5 is 45m from click 1 — outside
      assert(streamed == Seq((1L, 1.0), (3L, 1.0), (3L, 5.0),
        (4L, 4.0), (5L, 5.0)))
    } finally query.stop()
  }

  test("streaming dedup(limit=2) keeps two per key, collapses redelivery, matches the batch twin") {
    val q = "dedup(event_type, limit=2)"
    // u1's three distinct events arrive NEWEST-FIRST (7,5,3): the stream
    // admits the first two arrivals = the two newest = exactly what the
    // batch verb keeps, so the twins agree; the third (3, oldest)
    // saturates. u2 has one event. Redeliveries of 7 (same batch AND a
    // later batch) must not consume capacity.
    val e7 = (7L, "u1", 1.0, "2024-03-01 00:30:00")
    val e5 = (5L, "u1", 2.0, "2024-03-01 00:20:00")
    val e3 = (3L, "u1", 3.0, "2024-03-01 00:10:00")
    val e2 = (2L, "u2", 4.0, "2024-03-01 00:05:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "1 hour")
    val query = out.writeStream.format("memory").queryName("hq_dedup_n")
      .outputMode("append").start()
    try {
      mem.addData(e7, e7, e2); query.processAllAvailable()   // in-batch redelivery
      mem.addData(e5, e7); query.processAllAvailable()       // cross-batch redelivery
      mem.addData(e3); query.processAllAvailable()           // over capacity — dropped
      val streamed = spark.table("hq_dedup_n")
        .select("event_id").as[Long].collect().toSeq.sorted
      assert(streamed == Seq(2L, 5L, 7L), s"stream kept $streamed")
      // batch twin over the DISTINCT events: the batch verb ranks raw
      // rows, so a redelivered copy would occupy a second slot there —
      // the stream side is precisely what collapses redelivery first
      val batchTwin = HumioQuery.run(toEvents(Seq(e7, e2, e5, e3).toDF()), q)
        .select("event_id").as[Long].collect().toSeq.sorted
      assert(streamed == batchTwin, s"stream $streamed vs batch $batchTwin")
    } finally query.stop()
  }

  test("streaming dedup(limit=2) without event_id: distinct same-ts rows both survive, redelivery still collapses") {
    // no event_id column → row identity falls back to the content hash:
    // two DIFFERENT rows sharing a timestamp must both count (the batch
    // twin keeps both), while a byte-identical redelivery must not
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Double, String)]
    val df = mem.toDF().toDF("user", "value", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val a = ("u1", 1.0, "2024-03-01 00:10:00")
    val b = ("u1", 2.0, "2024-03-01 00:10:00")   // same ts, distinct payload
    val out = HumioQuery.runStream(df, "dedup(user, limit=2)", watermark = "1 hour")
    val query = out.writeStream.format("memory").queryName("hq_dedup_noid")
      .outputMode("append").start()
    try {
      mem.addData(a, a, b); query.processAllAvailable()   // in-batch redelivery of a
      mem.addData(a); query.processAllAvailable()         // cross-batch redelivery
      val vals = spark.table("hq_dedup_noid")
        .select("value").as[Double].collect().toSeq.sorted
      assert(vals == Seq(1.0, 2.0), s"kept $vals")
    } finally query.stop()
  }

  test("stream-stream join(within=, mode=left) keeps unmatched events and matches the batch twin") {
    // same banded self-correlate as the inner spec, but mode=left: an
    // event with NO click sharing its key inside ±30 min must SURVIVE
    // with NULL subquery columns — emitted only once the watermark
    // passes its band (before that, "no match" is not yet a fact).
    val q = "u := event_id % 2 | " +
      "join({event_type = click | select(ts, u, value)}, " +
      "field=u, key=u, within=30m, mode=left, include=[value]) | " +
      "select(event_id, value)"
    val events = Seq(
      (1L, "click", 1.0, "2024-03-01 00:00:00"),   // u=1
      (2L, "error", 0.0, "2024-03-01 00:10:00"),   // u=0: no click in band → NULL
      (3L, "error", 0.0, "2024-03-01 00:20:00"),   // u=1: clicks 1 and 5 in band
      (4L, "click", 4.0, "2024-03-01 02:00:00"),   // u=0: only itself in band
      (5L, "click", 5.0, "2024-03-01 00:45:00"))   // u=1: 45m from click 1 — out
    // sentinel far past every band: advances the watermark so each
    // unmatched row's band closes and its NULL row actually emits
    val sentinel = (9L, "view", 0.0, "2024-03-01 09:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_ssjoin_left")
      .outputMode("append").start()
    try {
      mem.addData(events.take(3): _*); query.processAllAvailable()
      mem.addData(events.drop(3) :+ sentinel: _*); query.processAllAvailable()
      val streamed = spark.table("hq_ssjoin_left")
        .as[(Long, Option[Double])].collect().toSeq
        .filter(_._1 != 9L).sorted
      val batchTwin = HumioQuery.run(toEvents((events :+ sentinel).toDF()), q)
        .as[(Long, Option[Double])].collect().toSeq
        .filter(_._1 != 9L).sorted
      assert(streamed == batchTwin, s"stream $streamed vs batch $batchTwin")
      // inner rows identical to the inner-mode spec, PLUS the unmatched
      // event 2 surviving with a NULL subquery value
      assert(streamed == Seq((1L, Some(1.0)), (2L, None), (3L, Some(1.0)),
        (3L, Some(5.0)), (4L, Some(4.0)), (5L, Some(5.0))))
    } finally query.stop()
  }

  test("connector wire -> parse -> DSL timechart: one streaming plan end to end") {
    import graft.streaming.ConnectorPipeline
    def line(off: Long, t: Long, user: String) =
      s"""{"metadata": {"offset": $off, "eventCreationTime": $t, "eventType": "T"},""" +
        s""" "event": {"AuditKeyValues": [{"Key": "UserId", "ValueString": "$user"}]}}"""
    val h = 3600L * 1000
    val t0 = epochMs("2024-03-01 00:00:00")
    val wire = Seq(
      line(1, t0 + 600000, "u1"), line(2, t0 + 900000, "u2"),
      line(3, t0 + h + 60000, "u1"), "", "not json",   // dropped by R2/R3
      line(4, t0 + h + 120000, "u1"),
      // sentinel advances the watermark so the real buckets close
      line(9, t0 + 9 * h, "u1"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = ConnectorPipeline.queryStream(mem.toDF(),
      "UserId = u1 | timechart(span=1h)", host = "h1", streamId = "s1",
      promote = Seq("UserId"), watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_wire")
      .outputMode("append").start()
    try {
      mem.addData(wire: _*); query.processAllAvailable()
      mem.addData(line(10, t0 + 10 * h, "u1")); query.processAllAvailable()
      val got = spark.table("hq_wire").as[(Long, Long)].collect().toMap
        .view.filterKeys(_ < t0 + 9 * h).toMap
      // u1 events: one in bucket 0, two in bucket 1; u2 filtered out;
      // empty/corrupt lines dropped by the connector stages
      assert(got == Map(t0 -> 1L, (t0 + h) -> 2L))
    } finally query.stop()
  }

  // ---- DSL sequence-function streaming twins (StatefulSequence) ----
  // each drains two in-order batches and must equal the batch twin
  // row-for-row; the same-ts pair (events 3/4) exercises the event_id
  // tie-break, and the cross-batch boundary exercises stored state

  private val seqB1 = Seq(
    (1L, "click", 10.0, "2024-03-01 00:00:01"),
    (2L, "view", 100.0, "2024-03-01 00:00:02"),
    (3L, "click", 20.0, "2024-03-01 00:00:03"),
    (4L, "click", 30.0, "2024-03-01 00:00:03"))
  private val seqB2 = Seq(
    (5L, "view", 200.0, "2024-03-01 00:00:04"),
    (6L, "click", 40.0, "2024-03-01 00:00:05"))

  private def seqTwinCheck(q: String, outCol: String): Unit = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "10 minutes")
    val name = s"seq_${outCol}_${math.abs(q.hashCode)}"
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(seqB1: _*); query.processAllAvailable()
      mem.addData(seqB2: _*); query.processAllAvailable()
      val streamed = spark.table(name).select(col("event_id"), col(outCol))
        .as[(Long, Option[Long])].collect().toMap
      val batch = HumioQuery.run(toEvents((seqB1 ++ seqB2).toDF()), q)
        .select(col("event_id"), col(outCol))
        .as[(Long, Option[Long])].collect().toMap
      assert(streamed == batch, s"$q: stream $streamed vs batch $batch")
      assert(streamed.size == 6)
    } finally query.stop()
  }

  test("streaming accumulate: running per-key sum chains across batches") {
    seqTwinCheck("cents := round(value * 100) | " +
      "accumulate(field=cents, function=sum, by=event_type, as=run)", "run")
  }

  test("streaming slidingWindow: last-n-events ring matches the batch frame") {
    seqTwinCheck("cents := round(value * 100) | " +
      "slidingWindow(field=cents, function=sum, events=2, by=event_type, as=w2)", "w2")
  }

  test("streaming neighbor: lag ring matches the batch lag, NULL on firsts") {
    seqTwinCheck("cents := round(value * 100) | " +
      "neighbor(cents, distance=1, by=event_type, as=prev)", "prev")
  }

  test("streaming partition: change index chains across batches") {
    // one shared key, event_type as the changing value: the index must
    // split at every click↔view flip, including the cross-batch one
    // (batch2's view vs the STORED click) — per the batch window twin
    seqTwinCheck("k1 := 1 | partition(field=event_type, by=k1, as=p)", "p")
  }

  test("streaming accumulate: a within-watermark late event folds at arrival position") {
    // the documented divergence bound: a late-but-within-watermark event
    // EMITS (state accepts it) with the running value as of its ARRIVAL
    // position — it cannot retroactively shift values already emitted
    // for later-timestamped events (append mode cannot retract)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val q = "cents := round(value * 100) | " +
      "accumulate(field=cents, function=sum, by=event_type, as=run)"
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "1 hour")
    val query = out.writeStream.format("memory").queryName("seq_late")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click", 10.0, "2024-03-01 00:00:01"),
        (2L, "click", 20.0, "2024-03-01 00:10:00"))
      query.processAllAvailable()
      // event 3 is EARLIER than both consumed events but inside the
      // watermark: it folds in at arrival → run = 10+20+5
      mem.addData((3L, "click", 5.0, "2024-03-01 00:00:00"))
      query.processAllAvailable()
      val got = spark.table("seq_late").select("event_id", "run")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1000L, 2L -> 3000L, 3L -> 3500L))
      // while the BATCH twin (total order) would have ordered event 3 first
      val batch = HumioQuery.run(toEvents(Seq(
          (1L, "click", 10.0, "2024-03-01 00:00:01"),
          (2L, "click", 20.0, "2024-03-01 00:10:00"),
          (3L, "click", 5.0, "2024-03-01 00:00:00")).toDF()), q)
        .select("event_id", "run").as[(Long, Long)].collect().toMap
      assert(batch == Map(3L -> 500L, 1L -> 1500L, 2L -> 3500L))
      // the FINAL running total agrees — the divergence is transient
      // ordering, never lost or double-counted contributions
      assert(got.values.max == batch.values.max)
    } finally query.stop()
  }

  test("streaming accumulate: NULL keys form one sequence, like the batch null partition") {
    implicit val sq = spark.sqlContext
    val q = "cents := round(value * 100) | " +
      "accumulate(field=cents, function=sum, by=event_type, as=run)"
    val rows = Seq(
      (1L, null.asInstanceOf[String], 10.0, "2024-03-01 00:00:01"),
      (2L, "null", 70.0, "2024-03-01 00:00:02"),    // the STRING "null"
      (3L, null.asInstanceOf[String], 20.0, "2024-03-01 00:00:03"))
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("seq_nullkey")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*); query.processAllAvailable()
      val streamed = spark.table("seq_nullkey").select("event_id", "run")
        .as[(Long, Long)].collect().toMap
      // null-key rows are NOT dropped and chain together; the string
      // "null" key stays a separate sequence (sentinel discipline)
      assert(streamed == Map(1L -> 1000L, 2L -> 7000L, 3L -> 3000L))
      val batch = HumioQuery.run(toEvents(rows.toDF()), q)
        .select("event_id", "run").as[(Long, Long)].collect().toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("streaming ring state chains THREE batches; min over the sliding frame") {
    implicit val sq = spark.sqlContext
    val q = "cents := round(value * 100) | " +
      "slidingWindow(field=cents, function=min, events=3, by=event_type, as=m3)"
    val b1 = Seq((1L, "click", 50.0, "2024-03-01 00:00:01"))
    val b2 = Seq((2L, "click", 20.0, "2024-03-01 00:00:02"),
      (3L, "click", 90.0, "2024-03-01 00:00:03"))
    val b3 = Seq((4L, "click", 70.0, "2024-03-01 00:00:04"))
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("seq_ring3")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); query.processAllAvailable()
      mem.addData(b2: _*); query.processAllAvailable()
      mem.addData(b3: _*); query.processAllAvailable()
      val got = spark.table("seq_ring3").select("event_id", "m3")
        .as[(Long, Long)].collect().toMap
      // frames: [50], [50,20], [50,20,90], [20,90,70] — min chains the
      // ring across all three batch boundaries
      assert(got == Map(1L -> 5000L, 2L -> 2000L, 3L -> 2000L, 4L -> 2000L))
      val batch = HumioQuery.run(toEvents((b1 ++ b2 ++ b3).toDF()), q)
        .select("event_id", "m3").as[(Long, Long)].collect().toMap
      assert(got == batch)
    } finally query.stop()
  }

  test("streaming accumulate count form and min/max fold") {
    seqTwinCheck("cents := round(value * 100) | " +
      "accumulate(field=cents, function=count, by=event_type, as=n)", "n")
    seqTwinCheck("cents := round(value * 100) | " +
      "accumulate(field=cents, function=max, by=event_type, as=mx)", "mx")
  }

  test("streaming windowed series() matches the batch twin per bucket") {
    val q = "series(field=event_type, by=value, span=1h, sep=\"-\", as=tl)"
    val batch1 = Seq(
      (1L, "view", 1.0, "2024-03-01 00:05:00"),
      (2L, "click", 1.0, "2024-03-01 00:20:00"),
      (3L, "view", 2.0, "2024-03-01 00:10:00"),
      (4L, "buy", 1.0, "2024-03-01 00:40:00"))
    val batch2 = Seq(
      (5L, "click", 2.0, "2024-03-01 01:10:00"),
      (6L, "view", 1.0, "2024-03-01 01:30:00"),
      (7L, "click", 0.0, "2024-03-01 09:00:00"))  // watermark sentinel
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_series_w")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); query.processAllAvailable()
      mem.addData(batch2: _*); query.processAllAvailable()
      val streamed = spark.table("hq_series_w")
        .as[(Long, Double, String)].collect().toSet
      val expected = HumioQuery.run(toEvents((batch1 ++ batch2).toDF()), q)
        .as[(Long, Double, String)].collect().toSet
        .filter(_._1 < epochMs("2024-03-01 09:00:00"))
      assert(streamed == expected)
      // per-key per-bucket timelines in (ts, event_id) order
      assert(expected.contains((epochMs("2024-03-01 00:00:00"), 1.0,
        "view-click-buy")))
      assert(expected.contains((epochMs("2024-03-01 00:00:00"), 2.0, "view")))
      assert(expected.contains((epochMs("2024-03-01 01:00:00"), 1.0, "view")))
    } finally query.stop()
  }

  test("streaming windowed fieldstats() matches the batch twin per bucket") {
    val q = "fields(event_type, value, ts) | fieldstats(span=1h)"
    val batch1 = Seq(
      (1L, "view", 1.0, "2024-03-01 00:05:00"),
      (2L, "click", 2.0, "2024-03-01 00:20:00"),
      (3L, "view", 1.0, "2024-03-01 00:10:00"),
      (4L, "buy", 3.0, "2024-03-01 01:40:00"))
    val batch2 = Seq(
      (5L, "click", 2.0, "2024-03-01 01:50:00"),
      (6L, "view", 0.0, "2024-03-01 09:00:00"))  // watermark sentinel
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val out = HumioQuery.runStream(toEvents(mem.toDF()), q, watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("hq_fs_w")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); query.processAllAvailable()
      mem.addData(batch2: _*); query.processAllAvailable()
      val streamed = spark.table("hq_fs_w")
        .as[(Long, String, Long, Long)].collect().toSet
      val expected = HumioQuery.run(toEvents((batch1 ++ batch2).toDF()), q)
        .as[(Long, String, Long, Long)].collect().toSet
        .filter(_._1 < epochMs("2024-03-01 09:00:00"))
      assert(streamed == expected)
      // bucket 00:00 has 3 events: event_type 2 distinct, value 2 distinct
      assert(expected.contains((epochMs("2024-03-01 00:00:00"), "event_type", 3L, 2L)))
      assert(expected.contains((epochMs("2024-03-01 00:00:00"), "value", 3L, 2L)))
      assert(expected.contains((epochMs("2024-03-01 01:00:00"), "event_type", 2L, 2L)))
    } finally query.stop()
  }

  test("unwindowed series()/fieldstats() still refuse streams with a reasoned error") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, String)]
    val e1 = intercept[IllegalArgumentException] {
      HumioQuery.runStream(toEvents(mem.toDF()),
        "series(field=event_type, by=value)", watermark = "10 minutes")
    }
    assert(e1.getMessage.contains("span="))
    val e2 = intercept[IllegalArgumentException] {
      HumioQuery.runStream(toEvents(mem.toDF()), "fieldstats()",
        watermark = "10 minutes")
    }
    assert(e2.getMessage.contains("span="))
  }

  private def epochMs(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
}
