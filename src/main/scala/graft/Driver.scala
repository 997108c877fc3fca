package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicReference

/** What the driver-contract mains (Bench, Verify, EntrySmoke) share: one
  * session definition, so the bench times the configuration the
  * correctness dump checks, and one per-query watchdog.
  */
object Driver {

  /** local[cpus] with `cpus` shuffle partitions (SPARK_GRAFT_CPUS,
    * default 4), UTC, no UI, and both session memos on: the mains read
    * only the read-only fixtures and exit after a bounded query list,
    * the regime [[graft.operators.Scale.StageMemoConf]] and
    * [[graft.query.HumioQuery.PlanMemoConf]] are sound in.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config(graft.operators.Scale.StageMemoConf, "true")
      .config(graft.query.HumioQuery.PlanMemoConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on a daemon thread in job group `name` and waits at most
    * `timeoutSec`, so one hung query cannot stall a whole run. On timeout
    * the group's jobs are cancelled (interrupting their tasks) and the
    * thread gets 30 s to wind down; a query that ignores cancellation
    * still cannot block JVM exit. None on success, else the error.
    */
  def watchdog(spark: SparkSession, name: String, timeoutSec: Long)(
      body: => Unit): Option[String] = {
    val failure = new AtomicReference[Option[String]](None)
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      try body
      catch { case e: Throwable => failure.set(Some(String.valueOf(e.getMessage))) }
    }, s"graft-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutSec * 1000)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(name)
      worker.join(30000)
      Some(s"timed out after ${timeoutSec}s")
    } else failure.get
  }
}
