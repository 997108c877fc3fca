package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-inventory bench: each query's cold run and one warm re-run
  * on the noop sink, in name order, plus their totals. Every number is
  * the one measured: no reruns, folds or load waits.
  *
  * Knobs via env: SPARK_GRAFT_SF_DIR (fixture, default sf0.1),
  * SPARK_GRAFT_CPUS (see [[Driver.session]]), SPARK_GRAFT_CONF
  * ("k=v;k=v" session confs for probes; unset, the defaults are timed),
  * SPARK_GRAFT_QUERY_TIMEOUT (seconds per run, default 300) and
  * SPARK_GRAFT_BENCH_FILE (record path, default BENCH_LOCAL.json in the
  * working directory). Args select a subset of queries.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** cold: the first run (plan analysis + codegen compile + data); warm:
    * min of cold and the second run, the per-row data cost once
    * plan-fixed overhead is amortized. -1 marks a failed or timed-out run.
    */
  final case class Timing(cold: Double, warm: Double)

  /** One noop-sink execution under [[Driver.watchdog]]: seconds, or -1 on
    * failure or timeout, so a fast crash never reads as a fast query. The
    * noop sink evaluates every output column, where count() would let
    * Catalyst prune projection work.
    */
  private def timedRun(spark: SparkSession, sfDir: String, name: String, fn: Query,
                       timeoutSec: Long): Double = {
    val t0 = System.nanoTime()
    Driver.watchdog(spark, name, timeoutSec) {
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    } match {
      case None => (System.nanoTime() - t0) / 1e9
      case Some(err) =>
        System.err.println(s"[bench] $name failed: $err")
        -1.0
    }
  }

  /** Cold plus one warm run per query, in name order: with the stage memo
    * on, who runs first pays a shared stage's cold cost, so a fixed order
    * keeps that attribution reproducible and records diffable.
    */
  def measure(spark: SparkSession, sfDir: String, queries: Map[String, Query],
              timeoutSec: Long): Seq[(String, Timing)] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cold = timedRun(spark, sfDir, name, fn, timeoutSec)
      val warm =
        if (cold < 0) cold
        else {
          val second = timedRun(spark, sfDir, name, fn, timeoutSec)
          if (second < 0) -1.0 else math.min(cold, second)
        }
      name -> Timing(cold, warm)
    }

  /** Any failed query invalidates a total: -1, never a partial sum that
    * reads like a fast clean run. */
  def total(vs: Iterable[Double]): Double =
    if (vs.exists(_ < 0)) -1.0 else vs.sum

  private def fmt(v: Double, scale: Int): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  private def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmt(v, 1) }.mkString("{", ",", "}")

  /** The stdout lines, in order: the warm map, the cold map, the compact
    * totals and, last, the contract line. A reader that keeps only the
    * tail of stdout still gets the totals intact, and the contract line
    * carries both maps inline.
    */
  def report(results: Seq[(String, Timing)], benchFile: String,
             sfDir: String): Seq[String] = {
    val qw = jsonMap(results.map { case (k, t) => k -> t.warm })
    val qs = jsonMap(results.map { case (k, t) => k -> t.cold })
    val head = s""""metric":"total","value":${fmt(total(results.map(_._2.cold)), 2)},"unit":"sec","""
    val tail = s""""warm_total":${fmt(total(results.map(_._2.warm)), 2)},""" +
      s""""n_queries":${results.size},"bench_file":"$benchFile","sf":"$sfDir"}"""
    Seq(s"""{"queries_warm":$qw}""", s"""{"queries":$qs}""",
      s"{$head$tail", s"""{$head"queries":$qs,"queries_warm":$qw,$tail""")
  }

  /** The complete record, one query per line so two runs diff line by line. */
  def record(results: Seq[(String, Timing)], sfDir: String, fullSuite: Boolean): String = {
    def fileMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s"""    "$k": ${fmt(v, 2)}""" }.mkString("{\n", ",\n", "\n  }")
    s"""{\n  "sf": "$sfDir",\n  "unit": "sec",\n  "metric": "total",\n""" +
      s"""  "value": ${fmt(total(results.map(_._2.cold)), 2)},\n""" +
      s"""  "warm_total": ${fmt(total(results.map(_._2.warm)), 2)},\n""" +
      s"""  "n_queries": ${results.size},\n  "full_suite": $fullSuite,\n""" +
      s"""  "queries": ${fileMap(results.map { case (k, t) => k -> t.cold })},\n""" +
      s"""  "queries_warm": ${fileMap(results.map { case (k, t) => k -> t.warm })}\n}\n"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "BENCH_LOCAL.json")
    // a typo'd name or conf fails before session startup, not as a 0.00 s run
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val conf = Driver.envConf()
    val spark = Driver.session()
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    // warm-up, so the first timed query is not charged for one-offs:
    // session init, codegen compiler, shuffle machinery, Jackson behind
    // from_json (~1 s cold), the noop-sink write path, and each table's
    // file listing and parquet footers (cached by graft.Tables)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).groupBy(org.apache.spark.sql.functions.expr("id % 7"))
      .count().collect()
    spark.range(10).selectExpr("""from_json('{"k":1}', 'k BIGINT') AS j""")
      .write.mode("overwrite").format("noop").save()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings").foreach { t =>
      try Tables.table(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).limit(1).collect()
    catch { case _: Throwable => () }
    val queries = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val results = measure(spark, sfDir, queries, timeoutSec)
    // stdout first: a failed record write must not discard the run
    val lines = report(results, benchFile, sfDir)
    lines.foreach(println)
    System.err.println(lines.last)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(benchFile),
      record(results, sfDir, only.isEmpty))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $benchFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
