package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicReference

/** What the driver-contract mains (Bench, Verify, EntrySmoke) and the
  * tools share: one session definition, so the bench times the
  * configuration the correctness dump checks, and one per-query watchdog.
  */
object Driver {

  /** local[cpus] with `cpus` shuffle partitions (SPARK_GRAFT_CPUS,
    * default 4), UTC, no UI, constraint propagation off, and the session
    * memo ([[graft.operators.Scale.MemoConf]]) on: the mains read only
    * the read-only fixtures and exit after a bounded query list, the
    * regime the memo is sound in. The tools (Explain, RowCount) use it
    * too, so they time and count in the configuration Bench runs.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config(graft.operators.Scale.MemoConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session confs of a SPARK_GRAFT_CONF value ("k=v;k=v"), which
    * Bench and Explain set for probes. An entry without `=`, or a
    * `spark.graft.*` key not in [[CapAudit.confKeys]], is an error: a
    * probe whose knob is silently dropped times the default it meant to
    * move.
    */
  def parseConf(raw: String): Seq[(String, String)] =
    raw.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      require(eq > 0, s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      val key = kv.take(eq).trim
      require(!key.startsWith("spark.graft.") || CapAudit.confKeys(key),
        s"SPARK_GRAFT_CONF key '$key' is not a graft conf (known: " +
          s"${CapAudit.confKeys.toSeq.sorted.mkString(", ")})")
      key -> kv.drop(eq + 1).trim
    }

  /** [[parseConf]] of the SPARK_GRAFT_CONF environment variable. */
  def envConf(): Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Nil)

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
