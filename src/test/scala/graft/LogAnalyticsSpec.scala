package graft

import graft.operators.LogAnalytics
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class LogAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("sessionize: gap strictly greater than threshold starts a new session") {
    val df = Seq(
      (1L, ts(0), 1L), (1L, ts(30), 2L),   // exactly 30 min gap → SAME session
      (1L, ts(61), 3L),                    // 31 min gap → new session
      (2L, ts(0), 4L))
      .toDF("user_id", "ts", "event_id")
    val out = LogAnalytics.sessionize(df, col("user_id"), 30 * 60000L)
      .select("user_id", "event_id", "session_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L), (2L, 4L, 0L)))
  }

  test("funnelStages: order and step-window gate each stage on the previous one") {
    val H = 60L // minutes per hour
    val df = Seq(
      // u1: view → click(+1h) → purchase(+1h more): full funnel
      (1L, ts(0), "view"), (1L, ts(H), "click"), (1L, ts(2 * H), "purchase"),
      // u2: click BEFORE its first view → click never counts
      (2L, ts(H), "view"), (2L, ts(0), "click"),
      // u3: click 25h after view — outside the 24h step window
      (3L, ts(0), "view"), (3L, ts(25 * H), "click"),
      // u4: purchase before click → stages 1-2 only
      (4L, ts(0), "view"), (4L, ts(H), "purchase"), (4L, ts(2 * H), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = LogAnalytics.funnelStages(df, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"), 24 * 3600000L)
      .select(col("k"), col("s0").isNotNull, col("s1").isNotNull, col("s2").isNotNull)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(out(1L) == ((true, true, true)))
    assert(out(2L) == ((true, false, false)), "pre-view click must not convert")
    assert(out(3L) == ((true, false, false)), "out-of-window click must not convert")
    assert(out(4L) == ((true, true, false)), "pre-click purchase must not convert")
  }

  test("dedupKeepFirst keeps the earliest by (ts, tiebreak)") {
    val df = Seq(
      (1L, "a", ts(5), 10L), (1L, "a", ts(1), 11L),  // keep 11 (earlier ts)
      (1L, "a", ts(1), 9L))                          // same ts as 11 → keep 9 (lower id)
      .toDF("user_id", "event_type", "ts", "event_id")
    val kept = LogAnalytics.dedupKeepFirst(df,
        Seq(col("user_id"), col("event_type")), Seq(col("ts"), col("event_id")))
      .select("event_id").as[Long].collect().toSeq
    assert(kept == Seq(9L))
  }

  test("dropLate drops events behind the running max by more than lateness") {
    val df = Seq(
      (0L, 1L, ts(100)), (0L, 2L, ts(50)),   // 50 min behind max(100) → dropped
      (0L, 3L, ts(95)),                      // 5 min behind → kept
      (0L, 4L, ts(200)))
      .toDF("part", "event_id", "ts")
    val kept = LogAnalytics.dropLate(df, col("part"), col("event_id"), 10 * 60000L)
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("percentilesApprox tracks the exact percentiles within sketch error") {
    // 1..1001 per dim: exact quantiles are data points, and at
    // accuracy=10000 the GK sketch holds every rank exactly on this
    // cardinality — approx == exact here; the operators differ only in
    // merge-state size (sketch vs every-distinct-value)
    val df = (1 to 1001).flatMap(i => Seq(("a", i.toDouble), ("b", i * 2.0)))
      .toDF("dim", "v")
    val approx = LogAnalytics.percentilesApprox(df, col("dim"), col("v"),
        Seq(0.5, 0.9, 0.99))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(approx("a") == ((501.0, 901.0, 991.0)), s"got ${approx("a")}")
    assert(approx("b") == ((1002.0, 1802.0, 1982.0)), s"got ${approx("b")}")
    // monotone across the requested percentiles by construction
    approx.values.foreach { case (p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("percentilesByCounts is bit-identical to the buffer aggregate") {
    // adversarial shapes: heavy ties (counts mode's raison d'être),
    // a single-value group, a two-value group (pure lerp), an all-null
    // group (must surface with NULL percentiles), mixed nulls, and
    // irrational-ish doubles so the lerp arithmetic itself is exercised
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(400) { i =>
      ("ties", Option((i % 7).toDouble))
    } ++ Seq(("one", Option(42.5)),
      ("two", Option(1.25)), ("two", Option(3.75)),
      ("allnull", Option.empty[Double]), ("allnull", Option.empty[Double]),
      ("mixed", Option.empty[Double])) ++
      Seq.tabulate(97)(i => ("mixed", Option(math.sqrt(i + 2) * 13.7))) ++
      Seq.tabulate(211)(_ => ("rand", Option(rnd.nextDouble() * 1e6)))
    val df = rows.toDF("dim", "v")
    val ps = Seq(0.5, 0.9, 0.99, 0.01)
    val buffer = LogAnalytics.percentiles(df, col("dim"), col("v"), ps)
      .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    val counts = LogAnalytics.percentilesByCounts(df, col("dim"), col("v"), ps)
      .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    // exact == comparison, no tolerance: the counts mode replicates
    // Spark's lerp bit-for-bit, and detRound4 runs on both sides
    assert(counts == buffer, s"counts mode diverged:\n$counts\nvs\n$buffer")
  }

  test("counts-mode plan: no percentile merge buffer, duplicates collapse map-side") {
    val df = Seq.tabulate(100)(i => ("a", (i % 3).toDouble)).toDF("dim", "v")
    val plan = LogAnalytics.percentilesByCounts(df, col("dim"), col("v"), Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("),
      s"counts mode must not plan the value-buffering percentile aggregate:\n$plan")
    // the (dim, value) partial hash aggregate is what collapses
    // duplicates before the exchange
    assert(plan.contains("HashAggregate") && plan.contains("partial_count"),
      s"expected a map-side partial count over (dim, value):\n$plan")
  }

  test("sketch exact-regime accuracy bound holds on the gate fixtures") {
    // the SKETCH_EXACT_ACCURACY contract: l_percentile_sketch's shared
    // quantile_disc oracle is valid only while accuracy exceeds every
    // event_type group's row count. Assert it against BOTH driver
    // scales so a grown fixture fails HERE, loudly, instead of as a
    // mystery hash mismatch in the correctness gate.
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val maxGroup = Tables.events(spark, s"/root/testdata/$sf")
        .groupBy("event_type").count()
        .agg(max("count")).as[Long].collect().head
      assert(maxGroup < LogAnalytics.SKETCH_EXACT_ACCURACY,
        s"$sf largest event_type group ($maxGroup) must stay below the " +
          s"exact-regime accuracy (${LogAnalytics.SKETCH_EXACT_ACCURACY}) " +
          "— raise LogAnalytics.SKETCH_EXACT_ACCURACY")
    }
  }

  test("topK orders by count desc then key") {
    val df = Seq("a", "a", "b", "b", "c").toDF("k")
    val top = LogAnalytics.topK(df, col("k"), 2).as[(String, Long)].collect().toSeq
    assert(top == Seq(("a", 2L), ("b", 2L)))  // tie a/b broken by key order
  }

  test("topKSketch equals exact topK when capacity covers the key space") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    val exact = LogAnalytics.topK(df, col("event_type"), 3)
      .as[(String, Long)].collect().toSeq
    val sketch = LogAnalytics.topKSketch(df, col("event_type"), 3, 1024)
      .as[(String, Long)].collect().toSeq
    assert(sketch == exact, "capacity ≥ distinct keys must be exact")
  }

  test("Misra-Gries under eviction: heavy hitter survives with bounded error") {
    // 1 heavy key (1000 rows) + 200 distinct tail keys, capacity 8:
    // decrements fire constantly, yet the MG guarantee holds — the
    // heavy key is present and undercounted by at most n/(capacity+1).
    val heavy = Seq.fill(1000)("heavy")
    val tail = (0 until 200).flatMap(i => Seq.fill(2)(s"tail-$i"))
    val n = heavy.size + tail.size
    val cap = 8
    val df = spark.sparkContext.parallelize(
      scala.util.Random.shuffle(heavy ++ tail), 8).toDF("k")
    val out = LogAnalytics.topKSketch(df, col("k"), 1, cap)
      .as[(String, Long)].collect().toSeq
    assert(out.nonEmpty && out.head._1 == "heavy",
      s"heavy hitter above n/(cap+1) must be reported, got $out")
    val reported = out.head._2
    assert(reported <= 1000L, "MG counts never overestimate")
    assert(reported >= 1000L - n.toLong / (cap + 1),
      s"undercount beyond the MG bound: $reported")
  }

  test("l_seasonal flags against the hour-of-day slot, not the global mean") {
    // every flagged bucket beats its OWN (series, hour-of-day) baseline
    // by the exact integer test, and the reported lift agrees
    val out = graft.queries.LogQueries.lSeasonal(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty, "fixture must produce seasonal outliers")
    out.foreach { r =>
      val (ms, hod, lift) = (r.getAs[Long]("bucket_ms"),
        r.getAs[Long]("hod"), r.getAs[Double]("lift"))
      assert((ms / 3600000L) % 24 == hod, "hod derives from the bucket")
      assert(lift > 1.5 - 1e-9, s"flagged rows exceed 1.5x lift, got $lift")
    }
  }

  test("l_ewma flags exactly the planted hourly spike") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma").toString
    val H = 3600000L
    // 48 steady hours of 10 events, one 4x spike at hour 40
    val rows = (0 until 48).flatMap { h =>
      val n = if (h == 40) 40 else 10
      (0 until n).map(k =>
        (h.toLong * 100 + k, new Timestamp(h * H + k), 1L, "err", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.LogQueries.queries("l_ewma")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(out.length == 1, s"only the spike fires: ${out.toSeq}")
    val (et, b, n, ew, r) = out.head
    assert(et == "err" && b == 40L * H && n == 40L)
    assert(math.abs(ew - 10.0) < 0.01, s"baseline should be ~10, got $ew")
    assert(r > 3.9 && r < 4.1, s"spike ratio should be ~4, got $r")
    // the bucket AFTER the spike inherits an inflated baseline (~25)
    // and its steady 10 events must NOT fire — EWMA decay, not a reset
  }

  test("l_ewma gap semantics are ROW lags: an empty hour is skipped, not zero-filled") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_gap").toString
    val H = 3600000L
    // steady 10/hour, hours 20-29 entirely MISSING, then steady 10
    // resumes: with row-lag semantics the baseline stays ~10 across
    // the gap, so the resume bucket must NOT fire as a spike
    val rows = ((0 until 20) ++ (30 until 48)).flatMap { h =>
      (0 until 10).map(k =>
        (h.toLong * 100 + k, new Timestamp(h * H + k), 1L, "err", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.LogQueries.queries("l_ewma")(spark, dir).collect()
    assert(out.isEmpty,
      s"a gap must not manufacture a spike under row-lag semantics: ${out.toSeq}")
  }

  test("slidingAvgScalable: bit-identical to the plain range window") {
    import spark.implicits._
    // seams the overlap replication must survive: rows exactly on a
    // bucket boundary, a frame spanning the previous bucket, timestamp
    // TIES (value-based range frame includes all tied rows), a key with
    // one event, and events separated by > windowMs (frame of one)
    val W = 60000L
    def t(ms: Long) = new Timestamp(1700000000000L + ms)
    val rows = Seq(
      ("a", 1L, t(0), 10.0), ("a", 2L, t(30000), 20.0),
      ("a", 3L, t(60000), 30.0),           // boundary: exactly W
      ("a", 4L, t(90000), 40.0), ("a", 5L, t(90000), 50.0), // tie
      ("a", 6L, t(300000), 60.0),          // isolated
      ("b", 7L, t(45000), 7.5))
    val df = rows.toDF("k", "event_id", "ts", "value").repartition(3)
    val want = df.select(col("event_id"),
        LogAnalytics.slidingAvg(df, col("k"), col("value"), W).as("avg"))
      .orderBy("event_id").collect().toSeq
    val got = LogAnalytics.slidingAvgScalable(df, col("k"), col("value"), W, "avg")
      .select("event_id", "avg").orderBy("event_id").collect().toSeq
    assert(got == want)
  }
}
