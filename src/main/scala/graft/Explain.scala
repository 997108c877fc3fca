package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `sbt "runMain graft.Explain [<query>…]"` prints each
  * query's formatted physical plan (all queries when none are named) —
  * the feedback loop for the scale checklist (broadcasts chosen? filters
  * pushed? codegen spans wide? no stray shuffles?) — and optionally times
  * noop-sink executions of it. Knobs via env:
  *  - SPARK_GRAFT_SF_DIR: fixture directory (default sf0.01);
  *  - SPARK_GRAFT_CPUS: local cores and shuffle partitions (default: all);
  *  - SPARK_GRAFT_CONF: "k=v;k=v" session confs (e.g. the stage memo);
  *  - SPARK_GRAFT_EXPLAIN_RUNS: timed noop executions per query (default 0);
  *  - SPARK_GRAFT_EXPLAIN_PLAN=0: skip the plan dump (timing only).
  * Timed runs answer what a bench record can't: which join strategy
  * actually ran, whether a stage memo hit changed the shape run-over-run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val conf = Driver.envConf()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
