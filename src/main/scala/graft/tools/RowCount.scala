package graft.tools

/** Dev tool: output cardinality of declared queries at an SF —
  * `runMain graft.tools.RowCount <sfDir> <query> [<query>…]`, prints
  * `ROWS <query> <n>`, in the session [[graft.Driver.session]] builds
  * (SPARK_GRAFT_CPUS cores, default 4). Used by scale probes to separate
  * "the operator is output-bound (cost ∝ rows it must emit)" from "the
  * plan does superlinear work for sublinear output" — only the latter is
  * a disease (SCALE_PROBE.md round-13: x_lshpairs).
  */
object RowCount {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RowCount <sfDir> <query> [<query>…]")
    val spark = graft.Driver.session()
    args.drop(1).foreach { q =>
      val n = graft.SparkEntry.queries(q)(spark, args(0)).count()
      println(s"ROWS $q $n")
    }
    spark.stop()
  }
}
