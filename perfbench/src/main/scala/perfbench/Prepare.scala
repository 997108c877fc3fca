package perfbench

import org.apache.spark.sql.SparkSession

/** The curate fixture: `graft.tools.ScaleGen` applied to the base
  * fixture, written once outside the timed runs.
  *
  *   perfbench.Prepare <baseDir> <outDir> <mult>
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(base, out, mult) = args
    // ScaleGen asks for local[32]; a session created first is the one its
    // getOrCreate returns, so it runs with one thread per core
    SparkSession.builder().master(s"local[${Env.cores}]")
      .config("spark.sql.shuffle.partitions", Env.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.tools.ScaleGen.main(Array(base, out, mult))
  }

  /** Rows of the base fixture's tables that the curate queries read (and
    * lineitem, the largest), before scaling. */
  val BaseRows: Map[String, Long] = Map(
    "documents" -> 5000L, "embeddings" -> 2000L, "events" -> 100000L,
    "lineitem" -> 600000L)

  /** Fails unless every table holds `mult` times its base row count. */
  def verify(spark: SparkSession, dir: String, mult: Int): Unit =
    BaseRows.foreach { case (t, n) =>
      val got =
        if (t == "events") graft.Tables.events(spark, dir).count()
        else spark.read.parquet(s"$dir/$t.parquet").count()
      require(got == n * mult,
        s"fixture $dir: $t has $got rows, expected ${n * mult}")
    }
}
