package graft

import graft.operators.Sketches
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Sketches as Structured Streaming state: Bloom bits, KMV minima and
  * HLL registers are each ONE stateful aggregation (set / max merge), so
  * the streaming complete-mode result must equal the batch sketch of
  * everything ingested so far — the mergeability claim of
  * [[Sketches]], proven on a live stream instead of a union.
  */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  private val batch1 = (0 until 80).map(i => s"s-item-${i % 30}")
  private val batch2 = (0 until 90).map(i => s"s-item-${i % 45}-b")

  test("streaming Bloom bit set tracks the batch bits and ignores redelivery") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = Sketches.bloomMFor(200)
    def bits(items: Seq[String]): Set[Long] =
      Sketches.bloomBits(items.toDF("item"), col("item"), m)
        .as[Long].collect().toSet
    val mem = MemoryStream[String]
    val q = Sketches.bloomBits(
        mem.toDF().select(col("value").as("item")), col("item"), m)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("bloom_stream").as[Long].collect().toSet == bits(batch1))
      // at-least-once redelivery: a bit SET is union-merged — idempotent
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("bloom_stream").as[Long].collect().toSet == bits(batch1),
        "redelivery must not change the bit set")
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val drained = spark.table("bloom_stream").as[Long].collect().toSet
      assert(drained == bits(batch1 ++ batch2),
        "bits must union across micro-batches")
      // no false negatives: every ingested item passes a membership
      // probe against the drained streaming state
      val state = drained.toSeq.toDF("bit")
      val hits = Sketches.bloomMaybe((batch1 ++ batch2).distinct.toDF("item"),
          col("item"), state, m)
        .as[(String, Long)].collect()
      assert(hits.forall(_._2 == 1L), "streamed Bloom state must admit every insert")
    } finally q.stop()
  }

  test("streaming KMV state: aggregate + sort-limit in complete mode tracks the batch k-min set") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val K = 16
    // the same md5-derived 63-bit hash shape xKmv uses; distinct-ness
    // comes from the groupBy (a streaming .distinct() would lower to
    // Deduplicate, which complete mode rejects)
    def hashed(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(col("item").cast("binary")).as("m"))
      .select((Sketches.hex32(col("m"), 1).bitwiseAND(lit((1L << 31) - 1)) *
        lit(1L << 32) + Sketches.hex32(col("m"), 9)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .orderBy("h").limit(K).select("h")
    def batchKmv(items: Seq[String]): Seq[Long] =
      hashed(items.toDF("item")).as[Long].collect().toSeq
    val mem = MemoryStream[String]
    val q = hashed(mem.toDF().select(col("value").as("item")))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("kmv_stream").as[Long].collect().toSeq == batchKmv(batch1))
      // redelivery: the k-min SET is duplicate-idempotent
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("kmv_stream").as[Long].collect().toSeq == batchKmv(batch1))
      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(spark.table("kmv_stream").as[Long].collect().toSeq ==
        batchKmv(batch1 ++ batch2),
        "the k smallest hashes must merge across micro-batches")
    } finally q.stop()
  }

  test("streaming HLL registers track the batch registers across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Sketches.hllRegisters(mem.toDF().select(col("value").as("item")), col("item"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    def regs(items: Seq[String]) =
      Sketches.hllRegisters(items.toDF("item"), col("item"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("hll_stream").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq == regs(batch1))
      // re-deliver batch1 (at-least-once): registers must NOT move —
      // max-merge is duplicate-idempotent
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(spark.table("hll_stream").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq == regs(batch1),
        "redelivery must not change max-merged registers")
      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(spark.table("hll_stream").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq == regs(batch1 ++ batch2))
    } finally q.stop()
  }
}
