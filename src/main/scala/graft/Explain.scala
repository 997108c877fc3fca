package graft

/** Plan inspector: `sbt "runMain graft.Explain [<query>…]"` prints each
  * query's formatted physical plan (all queries when none are named) —
  * the feedback loop for the scale checklist (broadcasts chosen? filters
  * pushed? codegen spans wide? no stray shuffles?) — and optionally times
  * noop-sink executions of it, in the session [[Driver.session]] builds
  * (the one Bench times, session memo on). Knobs via env:
  *  - SPARK_GRAFT_SF_DIR: fixture directory (default sf0.01);
  *  - SPARK_GRAFT_CPUS: local cores and shuffle partitions (default 4);
  *  - SPARK_GRAFT_CONF: "k=v;k=v" session confs set on top (e.g.
  *    spark.graft.stage.memo=false for a memo-off probe);
  *  - SPARK_GRAFT_EXPLAIN_RUNS: timed noop executions per query (default 0);
  *  - SPARK_GRAFT_EXPLAIN_PLAN=0: skip the plan dump (timing only).
  * Timed runs answer what a bench record can't: which join strategy
  * actually ran, whether a memo hit changed the shape run-over-run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val conf = Driver.envConf()
    val spark = Driver.session()
    spark.sparkContext.setLogLevel("ERROR")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val runs = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_RUNS", "0").toInt
    val showPlan = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_PLAN", "1") != "0"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          if (showPlan) {
            println(s"\n===== $name =====")
            println(fn(spark, dir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          }
          for (i <- 1 to runs) {
            val t0 = System.nanoTime()
            fn(spark, dir).write.mode("overwrite").format("noop").save()
            println(f"TIME $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        case None => println(s"\n===== $name: NO SUCH QUERY =====")
      }
    }
    spark.stop()
  }
}
