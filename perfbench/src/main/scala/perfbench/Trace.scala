package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spans recorded by a traced run: name, start, end and the parent span,
  * kept in memory and written once at exit. Times are nanoseconds on the
  * JVM's monotonic clock; engine events stamped with wall-clock
  * milliseconds are mapped onto it through one fixed origin pair.
  */
object Trace {
  final case class Span(id: Long, name: String, parent: Long,
                        startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()

  def fromWallMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  /** Runs `body` inside a span named `name`; `body` gets the span id so
    * nested calls can name it as their parent. Off: runs `body` only. */
  def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, parent, t0, System.nanoTime()))
    }

  /** Records a span measured elsewhere (an engine event). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, startNs, endNs))
      id
    }

  def size: Int = spans.size

  def write(path: Path): Unit = {
    val rows = spans.asScala.toSeq.sortBy(_.id).map(s =>
      Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> (s.startNs - originNs), "end_ns" -> (s.endNs - originNs))))
    Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** The engine's own public counters, read by a traced run: a
  * [[SparkListener]] for jobs, stages and task metrics (keyed by job
  * group), a [[QueryExecutionListener]] for the Catalyst phases of each
  * executed command, [[CodegenMetrics]] for compiles, and streaming
  * progress events. Registered only when tracing, so untraced runs
  * measure the program alone.
  */
final class Layers(spark: SparkSession) {
  import Layers._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val commands = new ConcurrentLinkedQueue[Phases]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val pending = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(stageGroup.put(_, group))
      jobs.put(e.jobId, Job(e.jobId, group, e.time, -1L, e.stageInfos.size))
      pending.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      pending.decrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val sched = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
        tasks.add(Task(stageGroup.getOrDefault(e.stageId, ""), i.finishTime,
          m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, sched, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      keep(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      keep(qe)
    private def keep(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      if (ph.nonEmpty)
        commands.add(Phases(ph.values.map(_._1).min, ph.values.map(_._2).max, ph))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits (bounded) until every started job has been seen ending, so
    * counters read afterwards are complete; listener delivery is async. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (pending.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

}

object Layers {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long,
                       stages: Int)
  final case class Task(group: String, finishMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long,
                        schedDelayMs: Long, inputBytes: Long,
                        shuffleWriteBytes: Long, shuffleReadBytes: Long,
                        spillBytes: Long)
  final case class Phases(startMs: Long, endMs: Long, phases: Map[String, (Long, Long)])
}

object Codegen {
  /** (compiles so far, total compile milliseconds so far). The compile
    * time histogram keeps every sample until it holds 1028, so its sum is
    * exact while a JVM has compiled fewer classes than that (a traced run
    * of either workload compiles about half as many). */
  final case class Reading(compiles: Long, compileMs: Long)

  def read(): Reading = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Reading(h.getCount, h.getSnapshot.getValues.sum)
  }
}
