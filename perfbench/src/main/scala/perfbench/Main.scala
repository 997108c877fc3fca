package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Entry point of the benchmark JVM. `run.py` launches one fresh JVM per
  * run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <mult>
  *
  * `dataDir` holds the fixture tables at `mult` times the base fixture's
  * row counts; they are verified before anything is timed.
  *
  * The JVM measures and writes raw observations to `<workDir>/out/`
  * (`result.json`, plus `latency.bin` on ingest and `trace.json` when
  * traced); `run.py` turns them into metrics and checks them. Nothing is
  * retried or folded here: every number is the one measured.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 7,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <mult>")
    val Array(workload, seedS, secondsS, traceS, workDir, dataDir, mult) = args
    val env = Env(workload, seedS.toLong, secondsS.toInt, traceS == "1",
      Paths.get(workDir), dataDir, mult.toInt)
    Files.createDirectories(env.outDir)
    val result = workload match {
      case "ingest" => Ingest.run(env)
      case "query" => Queries.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val full = result ++ Map(
      "workload" -> workload, "seed" -> env.seed, "seconds" -> env.seconds,
      "trace" -> env.trace, "cores" -> Env.cores,
      "retained_heap_bytes" -> Env.retainedHeapBytes(),
      "rss_hwm_kb" -> Env.peakRssKb()) ++
      (if (env.trace) Map("spans" -> Trace.size) else Map.empty)
    if (env.trace) Trace.write(env.outDir.resolve("trace.json"))
    Files.writeString(env.outDir.resolve("result.json"), Json(full))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

final case class Env(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     workDir: Path, dataDir: String, mult: Int) {
  val outDir: Path = workDir.resolve("out")
}

object Env {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A `local[cores]` session with the settings `graft.Bench` declares:
    * shuffle partitions = cores, UTC, constraint propagation off, and
    * the stage and hq memos on (the fixtures are read-only and the JVM
    * exits after the run, the regime both memos are sound in).
    */
  def session(env: Env): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${env.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.graft.stage.memo", "true")
      .config("spark.graft.hq.memo", "true")
      .config("spark.local.dir", env.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", env.workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap still in use after a full collection: what the session keeps
    * once the work is done (stage-memo blocks, caches, plans). Unlike the
    * resident set, it does not depend on when the collector happened to
    * run or how far it grew the heap. */
  def retainedHeapBytes(): Long = {
    // the first collection lets Spark's cleaner release blocks of
    // relations nothing references any more; the second frees them
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Seconds from JVM start to now: the first set-up includes the JVM,
    * class loading and session start, which is what a user pays. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Runs `setUp` three times and returns each duration. The first
    * counts from JVM start; before each later one the session is
    * stopped, so the set-up repeats in full except for JVM start-up.
    */
  def timedSetups(setUp: () => Unit): Seq[Double] = {
    setUp()
    val first = sinceJvmStart()
    val again = (1 to 2).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      setUp()
      (System.nanoTime() - t0) / 1e9
    }
    first +: again
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of every thread of this process so far, in nanoseconds.
    * Unlike wall time it does not grow while the host runs other guests. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** JSON for the raw result files, through the Jackson Scala module Spark
  * already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
