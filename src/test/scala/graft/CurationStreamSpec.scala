package graft

import graft.functions.Text
import graft.operators.{Dedup, Sampling}
import graft.streaming.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end streaming curation ingest ([[Curation]]): batch
  * agreement (same kept/chunk sets as the batch plan on the drained
  * stream), redelivery collapse, quarantine routing, and checkpoint
  * restart without replay.
  */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val gate = size(split(col("text"), " ")).between(3, 50)

  // static artifacts of the kept corpus: the stored band index and the
  // benchmark eval-gram set
  private lazy val baseDocs = Seq(
    (100L, "alpha beta gamma delta epsilon zeta"),
    (101L, "one two three four five six seven")).toDF("doc_id", "text")
  private lazy val bandIndex = {
    Dedup.bandRows(baseDocs, col("text"), 16, 2).select("band", "key").cache()
  }
  private lazy val evalGrams = {
    Seq("quick brown fox jumps over dog").toDF("text")
      .select(explode(Text.shinglesNative(Text.tokens(col("text")), 4))
        .as("gram"))
      .distinct().cache()
  }

  // the five-doc ingest fixture: kept+multichunk / contaminated /
  // base-dup / gate-fail-short / gate-fail-long
  private val realDocs = Seq(
    (1L, "2024-03-01 00:00:01", "totally fresh document words here today"),
    (2L, "2024-03-01 00:00:02",
      "the quick brown fox jumps over the lazy dog puppy"),
    (3L, "2024-03-01 00:00:03", "alpha beta gamma delta epsilon zeta"),
    (4L, "2024-03-01 00:00:04", "too short"),
    (5L, "2024-03-01 00:00:05", (1 to 60).map(i => s"w$i").mkString(" ")))

  /** The batch twin: the same gates, probes, and chunker as
    * `x_curate_incremental`, on a static frame — the agreement oracle.
    */
  private def batchChunks(docs: DataFrame, budget: Int): Set[(Long, Long, Long, String)] = {
    val gated = docs.where(gate).select("doc_id", "text")
    val contamIds = gated
      .select(col("doc_id"),
        explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
      .join(evalGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val dupIds = Dedup.bandRows(gated, col("text"), 16, 2)
      .join(bandIndex, Seq("band", "key"), "left_semi")
      .select("doc_id").distinct()
    val kept = gated
      .join(contamIds, Seq("doc_id"), "left_anti")
      .join(dupIds, Seq("doc_id"), "left_anti")
    Sampling.chunked(kept, col("text"), budget)
      .as[(Long, Long, Long, String)].collect().toSet
  }

  private def toStream(mem: MemoryStream[(Long, String, String)]): DataFrame =
    mem.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  test("streaming curate ingest = the batch plan on the drained stream; " +
    "redelivery collapses; quarantine routes the complement") {
    val expected = batchChunks(realDocs.map(d => (d._1, d._3)).toDF("doc_id", "text"), 4)
    assert(expected.map(_._1) == Set(1L), s"fixture sanity: only doc 1 survives, $expected")
    assert(expected.size == 2, "budget 4 on a 6-word doc must yield 2 chunks")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = Curation.streamingCurateIngest(toStream(mem), gate,
        evalGrams, bandIndex, 16, 2, chunkBudget = 4)
      .writeStream.format("memory").queryName("curate_ingest")
      .outputMode("append").start()
    val qq = Curation.streamingCurateVerdicts(toStream(mem), gate,
        evalGrams, bandIndex, 16, 2)
      .where(col("bad") === 1).select("doc_id")
      .writeStream.format("memory").queryName("curate_quarantine")
      .outputMode("append").start()
    try {
      // doc 1 redelivered (at-least-once) — its chunks must emit ONCE;
      // the sentinel passes the gate (filters push below the watermark
      // node) and advances the watermark past the real docs' window
      mem.addData(realDocs.head +: realDocs :+
        ((99L, "2024-03-02 00:00:00", "fresh sentinel advances the watermark")): _*)
      q.processAllAvailable(); qq.processAllAvailable()
      val got = spark.table("curate_ingest")
        .as[(Long, Long, Long, String)].collect()
      assert(got.length == got.toSet.size, s"no duplicate chunk rows: ${got.toSeq}")
      assert(got.toSet == expected,
        s"streaming chunks must equal the batch plan's:\n got ${got.toSet}\n exp $expected")
      // the quarantine channel carries exactly the probed-out docs
      // (gate failures are dropped silently, not quarantined)
      val quarantined = spark.table("curate_quarantine").as[Long].collect().toSet
      assert(quarantined == Set(2L, 3L),
        s"contaminated + dup docs quarantine once each: $quarantined")
    } finally { q.stop(); qq.stop() }
  }

  test("streaming exact-cut ingest = substrCutAgainstIndex + gates on the drained stream") {
    val esdGram = 4
    val gramIndex = Dedup.substrGramIndex(baseDocs, col("text"), esdGram).cache()
    val ingest = Seq(
      // partial embed: base grams at s=4,5 cover tokens 4..8 (5 of 11
      // cut) — survives the half-dup gate with the copied span removed
      (11L, "2024-03-01 00:00:01",
        "my own intro beta gamma delta epsilon zeta own outro end"),
      // verbatim copy of a base doc (6 words, 3 dup spans → all cut) —
      // drops at the half-dup gate
      (12L, "2024-03-01 00:00:02", "alpha beta gamma delta epsilon zeta"),
      // fresh doc — kept whole
      (13L, "2024-03-01 00:00:03", "completely novel words flow through here"),
      // contaminated — quarantined before the cut stage
      (14L, "2024-03-01 00:00:04", "the quick brown fox jumps over it all"))
    // batch twin: same gates + the batch ESD cut
    val gated = ingest.map(d => (d._1, d._3)).toDF("doc_id", "text").where(gate)
    val contamIds = gated
      .select(col("doc_id"),
        explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
      .join(evalGrams, Seq("gram"), "left_semi").select("doc_id").distinct()
    val clean = gated.join(contamIds, Seq("doc_id"), "left_anti")
    val cutBatch = Dedup.substrCutAgainstIndex(gramIndex,
        clean.select("doc_id", "text"), col("text"), esdGram)
      .where(col("n_cut") * 2 < col("n_tokens"))
      .select(col("doc_id"), col("kept_text").as("text"))
    val expected = Sampling.chunked(cutBatch, col("text"), 4)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(expected.map(_._1) == Set(11L, 13L), s"fixture sanity: $expected")
    assert(expected.exists(c => c._1 == 11L && !c._4.contains("beta")),
      s"the embedded base span must be cut from doc 11: $expected")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = Curation.streamingCurateExactIngest(toStream(mem), gate,
        evalGrams, gramIndex, esdGram, chunkBudget = 4)
      .writeStream.format("memory").queryName("curate_esd")
      .outputMode("append").start()
    try {
      // doc 11 redelivered — spans double-collect but the cut predicate
      // is idempotent (coverage, not counts), so chunks emit once
      mem.addData(ingest.head +: ingest :+
        ((96L, "2024-03-02 00:00:00", "sentinel advances the watermark here")): _*)
      q.processAllAvailable()
      val got = spark.table("curate_esd")
        .as[(Long, Long, Long, String)].collect()
      assert(got.length == got.toSet.size, s"no duplicate chunks: ${got.toSeq}")
      assert(got.toSet == expected,
        s"streaming ESD ingest must equal the batch plan:\n got ${got.toSet}\n exp $expected")
    } finally { q.stop() }
  }

  test("streaming semantic ingest = probeCellIndex + gates on the drained stream; " +
    "null embeddings pass the semantic stage") {
    import graft.operators.Knn
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val baseVecs = Seq((100L, v(0)), (101L, v(2)), (102L, v(40)), (103L, v(88)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("cent_id", "cvec")
    val cellIndex = Knn.ivfAssign(baseVecs, cents, 4).cache()
    val ingest = Seq(
      (21L, "2024-03-01 00:00:01", "a semantic near duplicate arrives here", v(1)),
      (22L, "2024-03-01 00:00:02", "a genuinely novel direction doc here", v(135)),
      (23L, "2024-03-01 00:00:03", "the quick brown fox jumps over all", v(135)),
      (24L, "2024-03-01 00:00:04", "no embedding passes the semantic stage",
        null.asInstanceOf[Array[Float]]))
    // batch twin: gates then the batch cell-index probe
    val gated = ingest.map(d => (d._1, d._3)).toDF("doc_id", "text").where(gate)
    val contamIds = gated
      .select(col("doc_id"),
        explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
      .join(evalGrams, Seq("gram"), "left_semi").select("doc_id").distinct()
    val clean = gated.join(contamIds, Seq("doc_id"), "left_anti")
    val probeVecs = ingest.filter(_._4 != null).map(d => (d._1, d._4))
      .toDF("vec_id", "embedding")
      .join(clean.select(col("doc_id").as("vec_id")), "vec_id")
    val dupIds = Knn.probeCellIndex(probeVecs, cellIndex, cents, 4, 0.9, 2, 100)
      .select(col("vec_id").as("doc_id"))
    val kept = clean.join(dupIds, Seq("doc_id"), "left_anti")
    val expected = Sampling.chunked(kept, col("text"), 4)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(expected.map(_._1) == Set(22L, 24L),
      s"fixture sanity: dup 21 and contaminated 23 drop, $expected")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Array[Float])]
    val stream = mem.toDF().toDF("doc_id", "ts_s", "text", "embedding")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val q = Curation.streamingCurateSemanticIngest(stream, gate,
        evalGrams, cellIndex, cents, 4, 0.9, 2, 100, chunkBudget = 4)
      .writeStream.format("memory").queryName("curate_sem")
      .outputMode("append").start()
    try {
      mem.addData(ingest.head +: ingest :+
        ((95L, "2024-03-02 00:00:00", "sentinel advances the watermark now", v(170))): _*)
      q.processAllAvailable()
      val got = spark.table("curate_sem")
        .as[(Long, Long, Long, String)].collect()
      assert(got.length == got.toSet.size, s"no duplicate chunks: ${got.toSeq}")
      assert(got.toSet == expected,
        s"streaming semantic ingest must equal the batch plan:\n got ${got.toSet}\n exp $expected")
    } finally { q.stop(); cellIndex.unpersist() }
  }

  test("checkpoint restart: committed windows never re-emit, later windows flow") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cp = Files.createTempDirectory("graft-curate-cp").toString
    val out = Files.createTempDirectory("graft-curate-out").toString
    val mem = MemoryStream[(Long, String, String)]
    def start() = Curation.streamingCurateIngest(toStream(mem), gate,
        evalGrams, bandIndex, 16, 2, chunkBudget = 4)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()

    val q1 = start()
    mem.addData(realDocs :+
      ((98L, "2024-03-01 01:00:00", "first sentinel advances the watermark")): _*)
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(out).where(col("doc_id") < 90)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(afterFirst.map(_._1) == Set(1L), s"phase 1 kept doc 1 only: $afterFirst")

    // phase 2 on the SAME checkpoint: a later ingest batch plus the
    // next sentinel — phase-1 chunks must not replay
    val q2 = start()
    mem.addData(
      (6L, "2024-03-01 02:00:01", "another fresh kept document arrives now"),
      (7L, "2024-03-01 02:00:02", "the quick brown fox jumps over everything"),
      (97L, "2024-03-01 03:00:00", "second sentinel advances the watermark"))
    q2.processAllAvailable(); q2.stop()

    val all = spark.read.parquet(out).where(col("doc_id") < 90)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(all.length == all.toSet.size,
      s"restart must not replay committed chunks: $all")
    val expected = batchChunks(
      (realDocs.map(d => (d._1, d._3)) ++ Seq(
        (6L, "another fresh kept document arrives now"),
        (7L, "the quick brown fox jumps over everything"))).toDF("doc_id", "text"), 4)
    assert(all.toSet == expected,
      s"restarted stream must converge to the batch plan:\n got ${all.toSet}\n exp $expected")
  }

  test("streaming source gate: batch agreement, redelivery no-op, poisoned source flips") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-04-01 08:$min%02d:00")
    // window 1 (minutes 0-9): both sources clean; window 2 (10-19):
    // source sB carries a contamination burst (15 of 20 docs)
    def docs(winMin: Int, src: String, from: Long, nBad: Int) =
      (0 until 20).map(i => (t(winMin + i % 10), from + i, src,
        0L, 0L, if (i < nBad) 1L else 0L, 40L + i))
    val w1 = docs(0, "sA", 100, 0) ++ docs(0, "sB", 200, 0)
    val w2 = docs(10, "sA", 300, 0) ++ docs(10, "sB", 400, 15)
    val cols = Seq("ts", "doc_id", "source", "qf", "dp", "cn", "w")
    def state(df: DataFrame) = df
      .groupBy(window(col("ts"), "10 minutes").as("win"), col("doc_id"))
      .agg(first(col("source")).as("source"), max(col("qf")).as("qfail"),
        max(col("dp")).as("dup"), max(col("cn")).as("contam"),
        first(col("w")).as("w"))
    def verdicts(st: DataFrame): Map[(Long, String), (Long, Long)] =
      Curation.finishSourceGate(st)
        .select("wstart", "source", "contam_cnt", "keep")
        .as[(Long, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val mem = MemoryStream[
      (java.sql.Timestamp, Long, String, Long, Long, Long, Long)]
    val q = Curation.streamingSourceState(mem.toDF().toDF(cols: _*),
        "10 minutes", "30 minutes", col("qf") === 1, col("dp") === 1,
        col("cn") === 1, col("w"))
      .writeStream.format("memory").queryName("src_gate_state")
      .outputMode("complete").start()
    try {
      mem.addData(w1: _*)
      q.processAllAvailable()
      def drained() = verdicts(spark.table("src_gate_state"))
      val batch1 = verdicts(state(w1.toDF(cols: _*)))
      assert(drained() == batch1, "drained state must score like the batch twin")
      assert(batch1.values.forall(_._2 == 1L), "clean window keeps both sources")
      mem.addData(w1: _*) // at-least-once redelivery
      q.processAllAvailable()
      assert(drained() == batch1, "redelivery must not move the verdicts")
      mem.addData(w2: _*)
      q.processAllAvailable()
      val all = drained()
      assert(all == verdicts(state((w1 ++ w2).toDF(cols: _*))))
      val w2start = all.keys.map(_._1).max
      assert(all((w2start, "sB")) == ((15L, 0L)),
        s"the poisoned source must be dropped in its window: $all")
      assert(all((w2start, "sA"))._2 == 1L && all.keys.map(_._1).min != w2start,
        "the clean source and the clean window are untouched")
    } finally q.stop()
  }
}
