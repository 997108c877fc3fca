package graft

/** Dev smoke of the driver's t1 contract: `SparkEntry.entry` must return
  * rows>0 on sf0.001. Run: `sbt "runMain graft.EntrySmoke"`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Driver.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    require(n > 0, "entry() returned no rows — driver t1 smoke would fail")
    val missingOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    require(missingOracle.isEmpty, s"oracleSql keys without queries: $missingOracle")
    // analyze every declared query (no execution): catches schema drift,
    // unresolved columns, and bad plans in seconds instead of a full
    // Verify round
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    broken.foreach(b => println(s"ANALYSIS_FAIL $b"))
    require(broken.isEmpty, s"${broken.size} queries fail analysis")
    println(s"QUERIES=${SparkEntry.queries.size} ORACLES=${SparkEntry.oracleSql.size} ANALYZED=OK")
    spark.stop()
  }
}
