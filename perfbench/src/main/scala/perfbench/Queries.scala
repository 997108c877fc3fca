package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** The `query` workload: the query engine fed by the connector, in one
  * fresh JVM.
  *
  * The hunting set (pipe-language `hq_*` queries) runs cold, each query
  * for the first time in this JVM and in name order, then warm twice, as
  * an analyst re-running queries would; the curation chain runs cold
  * last, so the collection and cleanup of its large intermediates does
  * not land on the warm passes. The job time is the sum of the cold
  * executions. Every execution writes into the noop sink, which
  * evaluates every output column without writing. The result hashes are
  * taken after the timed region and compared with the references by
  * `run.py`.
  */
object Queries {
  /** Every fifth `hq_*` query in name order (15 of 71), spread over the
    * whole pipe language. Plan building, Catalyst, codegen and job
    * scheduling dominate these: the data is small. */
  val HuntStride = 5
  def huntQueries: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("hq_")).toSeq.sorted
      .zipWithIndex.collect { case (n, i) if i % HuntStride == 0 => n }

  /** Exact dedup, LSH near-duplicate pairs and their verification, and
    * the duplicate-cluster triangles built on them: execution, shuffle and
    * stage-memo reuse dominate. */
  val CurateQueries: Seq[String] = Seq("x_curate_exact", "x_lshpairs",
    "x_neardup", "x_triangles", "x_triangles_verified")

  val WarmPasses = 2

  /** A query still running after this long is cancelled and failed. */
  val TimeoutSec = 120

  final case class Exec(name: String, pass: String, seconds: Double, cpuS: Double,
                        startMs: Long, buildEndMs: Long, endMs: Long,
                        built: DataFrame, compiles: Long, compileMs: Long, newPersisted: Int)

  def run(env: Env): Map[String, Any] = {
    val hunt = huntQueries
    val names = hunt ++ CurateQueries
    val dir = env.dataDir
    var spark: SparkSession = null
    val setups = Env.timedSetups { () =>
      spark = Env.session(env)
      Prepare.verify(spark, dir, env.mult)
      warmUp(spark, dir)
    }
    Trace.enabled = env.trace
    val layers = if (env.trace) Some(new Layers(spark)) else None
    val errors = mutable.ArrayBuffer.empty[String]

    val huntCold = Trace.span("hunt.cold") { p =>
      hunt.map(n => execute(spark, dir, n, "cold", p, errors))
    }
    val warm = (1 to WarmPasses).flatMap { i =>
      Trace.span(s"hunt.warm$i") { p =>
        hunt.map(n => execute(spark, dir, n, s"warm$i", p, errors))
      }
    }
    val curateCold = Trace.span("curate.cold") { p =>
      CurateQueries.map(n => execute(spark, dir, n, "cold", p, errors))
    }
    val cold = huntCold ++ curateCold

    // correctness, outside the timed region
    val hashes = names.map { n =>
      n -> (try ResultHash(SparkEntry.queries(n)(spark, dir))
            catch { case e: Throwable =>
              errors += s"$n hash: ${e.getMessage}"; Map("rows" -> -1L, "hash" -> "") })
    }.toMap

    val firstBuilt = cold.map(e => e.name -> e.built).toMap
    val profile = layers.map { l =>
      l.settle()
      Map("queries" -> (cold ++ warm).map(e => profileOf(l, e)),
        "hq_memo_hits" -> warm.count(e => firstBuilt.get(e.name).exists(_ eq e.built)),
        "hq_memo_lookups" -> warm.size,
        "memo_pinned_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum)
    }
    Map("setup_s" -> setups, "job_s" -> cold.map(_.seconds).sum,
      "cold" -> cold.map(e => Map("name" -> e.name, "s" -> e.seconds, "cpu_s" -> e.cpuS)),
      "warm" -> warm.map(e => Map("name" -> e.name, "s" -> e.seconds, "cpu_s" -> e.cpuS)),
      "hashes" -> hashes, "errors" -> errors) ++
      profile.map(p => Map("profile" -> p)).getOrElse(Map.empty)
  }

  /** Session warm-up shared with `graft.Bench`: the first timed query is
    * not charged for session start, the codegen compiler's first load,
    * Jackson's first use behind from_json, the noop sink's first write,
    * or the first read of each table's file listing and footers. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).groupBy(org.apache.spark.sql.functions.expr("id % 7"))
      .count().collect()
    spark.range(10).selectExpr("""from_json('{"k":1}', 'k BIGINT') AS j""")
      .write.mode("overwrite").format("noop").save()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      graft.Tables.table(spark, dir, t).limit(1).collect()
    }
    graft.Tables.events(spark, dir).limit(1).collect()
  }

  private def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** One timed execution: build the Dataset through the program's public
    * entry (`SparkEntry.queries(name)(spark, dir)`), then write it to the
    * noop sink. Runs on a worker thread so a hung query is cancelled
    * after [[TimeoutSec]] and counted as failed (seconds = -1). */
  def execute(spark: SparkSession, dir: String, name: String, pass: String,
              parent: Long, errors: mutable.Buffer[String]): Exec = {
    val fn = SparkEntry.queries(name)
    val persistedBefore = if (Trace.enabled) persistedIds(spark) else Set.empty[Int]
    val cg0 = if (Trace.enabled) Codegen.read() else null
    var built: DataFrame = null
    var buildEndMs = 0L
    val failed = new java.util.concurrent.atomic.AtomicReference[String](null)
    val startMs = System.currentTimeMillis()
    val cpu0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      val sc = spark.sparkContext
      try Trace.span(s"query:$name:$pass", parent) { q =>
        sc.setJobGroup(s"$name|$pass|build", name, interruptOnCancel = true)
        built = Trace.span("build", q)(_ => fn(spark, dir))
        buildEndMs = System.currentTimeMillis()
        sc.setJobGroup(s"$name|$pass|exec", name, interruptOnCancel = true)
        Trace.span("execute", q)(_ =>
          built.write.mode("overwrite").format("noop").save())
      } catch { case e: Throwable => failed.set(String.valueOf(e.getMessage)) }
      finally sc.clearJobGroup()
    }, s"perfbench-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(TimeoutSec * 1000L)
    if (worker.isAlive) {
      failed.compareAndSet(null, s"timed out after ${TimeoutSec}s")
      spark.sparkContext.cancelJobGroup(s"$name|$pass|build")
      spark.sparkContext.cancelJobGroup(s"$name|$pass|exec")
      worker.join(30000)
    }
    val seconds = Env.secondsSince(t0)
    val cpuS = (Env.processCpuNs() - cpu0) / 1e9
    val endMs = System.currentTimeMillis()
    Option(failed.get).foreach(m => errors += s"$name $pass: $m")
    val (compiles, compileMs) =
      if (cg0 == null) (0L, 0L)
      else { val c = Codegen.read(); (c.compiles - cg0.compiles, c.compileMs - cg0.compileMs) }
    val newPersisted =
      if (Trace.enabled) (persistedIds(spark) -- persistedBefore).size else 0
    Exec(name, pass, if (failed.get == null) seconds else -1.0, cpuS, startMs,
      buildEndMs, endMs, built, compiles, compileMs, newPersisted)
  }

  /** One execution's wall time split by layer. The parts are disjoint
    * intervals of the wall time, so they sum to it with the residual:
    *  - build: the call into the program that returns the Dataset
    *    (pipe-language compile, analysis of the built plan, and any job
    *    it launches eagerly);
    *  - analysis / optimization / planning: the Catalyst phases of the
    *    noop-sink write, from its `QueryPlanningTracker`;
    *  - codegen: compile time, from `CodegenMetrics` (compiles happen on
    *    the planning thread before each job);
    *  - jobs: the union of the execute phase's job intervals (scheduling
    *    and task execution);
    *  - residual: the rest of the wall time (adaptive re-planning between
    *    jobs, result commit, thread hand-off).
    */
  def profileOf(l: Layers, e: Exec): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val wallMs = e.endMs - e.startMs
    val buildMs = e.buildEndMs - e.startMs
    val cmds = l.commands.asScala.filter(c => c.startMs >= e.buildEndMs && c.endMs <= e.endMs)
    def phase(n: String): Long = cmds.toSeq.flatMap(_.phases.get(n)).map(p => p._2 - p._1).sum
    val jobsOf = (g: String) => l.jobs.values.asScala.filter(_.group == g).toSeq
    val buildJobs = jobsOf(s"${e.name}|${e.pass}|build")
    val execJobs = jobsOf(s"${e.name}|${e.pass}|exec")
    val jobsMs = unionMs(execJobs.map(j => (j.startMs, if (j.endMs < 0) e.endMs else j.endMs)))
    val groups = Set(s"${e.name}|${e.pass}|build", s"${e.name}|${e.pass}|exec")
    val ts = l.tasks.asScala.filter(t => groups(t.group)).toSeq
    val (an, op, pl) = (phase("analysis"), phase("optimization"), phase("planning"))
    val residual = wallMs - buildMs - an - op - pl - e.compileMs - jobsMs
    Map("name" -> e.name, "pass" -> e.pass, "wall_ms" -> wallMs,
      "build_ms" -> buildMs,
      "build_jobs" -> buildJobs.size,
      "analysis_ms" -> an, "optimization_ms" -> op, "planning_ms" -> pl,
      "codegen_compiles" -> e.compiles, "codegen_ms" -> e.compileMs,
      "jobs_ms" -> jobsMs, "residual_ms" -> residual,
      "jobs" -> (buildJobs.size + execJobs.size),
      "stages" -> (buildJobs ++ execJobs).map(_.stages).sum,
      "tasks" -> ts.size,
      "scheduler_delay_ms" -> ts.map(_.schedDelayMs).sum,
      "task_run_ms" -> ts.map(_.runMs).sum,
      "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1000000L,
      "gc_ms" -> ts.map(_.gcMs).sum,
      "input_bytes" -> ts.map(_.inputBytes).sum,
      "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum,
      "shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum,
      "spill_bytes" -> ts.map(_.spillBytes).sum,
      "memo_staged" -> e.newPersisted)
  }

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Order-insensitive hash of a query result: each row is rendered to a
  * canonical string (floating point at 6 significant digits, map entries
  * and array elements sorted) and hashed to 64 bits; the row hashes are
  * summed modulo 2^64, so neither row order nor partitioning moves it. */
object ResultHash {
  def apply(df: DataFrame): Map[String, Any] = {
    val (rows, sum) = df.rdd.map(r => rowHash(r))
      .aggregate((0L, 0L))((a, h) => (a._1 + 1, a._2 + h),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    Map("rows" -> rows, "hash" -> f"$sum%016x")
  }

  def rowHash(r: Row): Long = {
    val s = render(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7f4a7c15)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" else "%.6g".format(d)
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else if (f == 0.0f) "0" else "%.5g".format(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).sorted.mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}
