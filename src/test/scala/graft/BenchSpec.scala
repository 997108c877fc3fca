package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.functions.{col, udf}

import scala.jdk.CollectionConverters._

/** graft.Bench's measuring loop and contract line on toy queries (no
  * fixture): failures and timeouts record -1, the watchdog cancels a hung
  * query's jobs and moves on, and the contract line keeps its keys.
  */
class BenchSpec extends SparkSpec {
  private val good: Bench.Query = (s, _) => s.range(1000).selectExpr("id * 2 AS x")
  private val throwing: Bench.Query = (_, _) => throw new IllegalStateException("boom")
  private val sleepy = udf { (x: Long) => Thread.sleep(60000); x }
  private val slow: Bench.Query = (s, _) => s.range(0, 1, 1, 1).select(sleepy(col("id")))

  test("a throwing query records -1 cold and warm, and the totals record -1") {
    val res = Bench.measure(spark, "unused",
      Map("a_good" -> good, "b_throwing" -> throwing), timeoutSec = 60).toMap
    assert(res("b_throwing") == Bench.Timing(-1.0, -1.0))
    assert(res("a_good").cold >= 0)
    assert(Bench.total(res.values.map(_.cold)) == -1.0)
    assert(Bench.total(res.values.map(_.warm)) == -1.0)
  }

  test("a query past the timeout records -1, its job group is cancelled, and the next query runs") {
    val t0 = System.nanoTime()
    val res = Bench.measure(spark, "unused",
      Map("a_slow" -> slow, "b_good" -> good), timeoutSec = 1)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(res.map(_._1) == Seq("a_slow", "b_good"))
    assert(res.head._2 == Bench.Timing(-1.0, -1.0))
    assert(res(1)._2.cold >= 0 && res(1)._2.warm >= 0)
    // the 60 s sleep was interrupted, not waited out
    assert(wall < 30, s"measure took $wall s")
    val tracker = spark.sparkContext.statusTracker
    val jobs = tracker.getJobIdsForGroup("a_slow").toSeq
    assert(jobs.nonEmpty)
    val deadline = System.nanoTime() + 10000000000L
    def statuses = jobs.flatMap(tracker.getJobInfo).map(_.status)
    while (statuses.exists(_ != JobExecutionStatus.FAILED) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED), statuses)
  }

  test("a good query has 0 <= warm <= cold") {
    val Seq((_, t)) = Bench.measure(spark, "unused", Map("good" -> good), timeoutSec = 60)
    assert(0 <= t.warm && t.warm <= t.cold, t)
  }

  test("the contract line is last, parses as JSON and has exactly the kept keys") {
    val res = Seq("a" -> Bench.Timing(2.0, 1.0), "b" -> Bench.Timing(0.5, 0.25))
    val lines = Bench.report(res, "BENCH_LOCAL.json", "sf0.01")
    assert(lines.size == 4)
    val mapper = new ObjectMapper()
    lines.init.foreach(l => mapper.readTree(l))
    val json = mapper.readTree(lines.last)
    assert(json.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "queries",
      "queries_warm", "warm_total", "n_queries", "bench_file", "sf"))
    assert(json.get("value").asDouble == 2.5)
    assert(json.get("warm_total").asDouble == 1.25)
    assert(json.get("n_queries").asInt == 2)
    assert(json.get("queries").get("a").asDouble == 2.0)
    assert(json.get("queries_warm").get("b").asDouble == 0.3)
  }

  test("SPARK_GRAFT_CONF: an entry without '=' fails and names the entry") {
    val e = intercept[IllegalArgumentException](
      Driver.parseConf("spark.graft.stage.memo=true;spark.graft.checkpoint.reliable"))
    assert(e.getMessage.contains("'spark.graft.checkpoint.reliable'"), e.getMessage)
  }

  test("SPARK_GRAFT_CONF: an unknown spark.graft.* key fails and names the key") {
    // the last two were confs once: a stale probe recipe must fail, not
    // set a knob that nothing reads
    Seq("spark.graft.ivf.k=32", "spark.graft.hq.memo=true",
        "spark.graft.stage.memoBudget=1g").foreach { kv =>
      val key = kv.takeWhile(_ != '=')
      val e = intercept[IllegalArgumentException](Driver.parseConf(kv))
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    assert(Driver.parseConf(" spark.graft.stage.memo = true ;spark.sql.x=a=b;") ==
      Seq("spark.graft.stage.memo" -> "true", "spark.sql.x" -> "a=b"))
  }
}
