package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.expressions.GraftExtensions
import graft.operators.Scale
import graft.streaming.ConnectorPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Native functions are Column builders (`NativeFunction.call`): the
  * engine builds every `graft_*` call directly, so a session needs no
  * registration and no extension to run it. Only SQL text resolves
  * `graft_*` names, through `GraftExtensions` (ExtensionsSpec).
  */
class NativeCallSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Together with the connector transform, these reach all 19 natives. */
  private val queryNames = Seq("e_parse", "x_langid", "x_langid_ngram", "x_cosine",
    "x_pq", "x_minhash", "x_minhash_est", "x_winnow", "x_simhash", "x_sq8", "x_bq",
    "x_ngram_jaccard", "hq_parsejson", "hq_entropy")

  /** A good line with a duplicate key, a corrupt line and a poison line. */
  private val lines = Seq(
    """{"metadata": {"eventType": "UserActivityAuditEvent", "offset": 1,
      |"eventCreationTime": 1648464000000}, "event": {"UserId": "u",
      |"AuditKeyValues": [{"Key": "a", "ValueString": "1"},
      |{"Key": "a", "ValueString": "2"}]}}""".stripMargin.replace("\n", " "),
    "{not json",
    """{"metadata": {"offset": 2, "eventCreationTime": 1},
      |"event": {"AuditKeyValues": [null]}}""".stripMargin.replace("\n", " "))

  /** Class names of the `graft.expressions` expressions in `plan`, its
    * subqueries and the captured lineage of its staged relations.
    */
  private def nativeClasses(plan: LogicalPlan, seen: java.util.Set[Int]): Set[String] =
    plan.collectWithSubqueries {
      case r: LogicalRDD =>
        if (!seen.add(r.rdd.id)) Set.empty[String]
        else Scale.capturedLineage(r.rdd.id).map(nativeClasses(_, seen)).getOrElse(Set.empty[String])
      case n => n.expressions.flatMap(_.collect {
        case e if e.getClass.getPackageName == "graft.expressions" => e.getClass.getName
      }).toSet
    }.flatten.toSet

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("declared queries and the connector transform need no registered function") {
    // never made active or default, no extension
    val fresh = spark.newSession()
    fresh.conf.set(Scale.StageCaptureConf, "true")
    // every execution in the session, plan-time collects included
    // (x_langid_ngram's trigram model)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val reached = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    fresh.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        reached.addAll(nativeClasses(qe.analyzed, seen).asJava)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def check(name: String, build: SparkSession => DataFrame): Unit =
      assert(rows(build(fresh)) == rows(build(spark)), name)
    queryNames.foreach(n => check(n, s => SparkEntry.queries(n)(s, dir)))
    check("ConnectorPipeline.transform", s => ConnectorPipeline.transform(
      s.createDataFrame(lines.map(Tuple1(_))).toDF("value"), "h", "s"))
    val all = GraftExtensions.functions.map(_.entry._2.getClassName).toSet
    assert(all.size == 19)
    eventually(timeout(Span(30, Seconds))) {
      val got = reached.asScala.toSet
      assert(got == all, s"not reached: ${(all -- got).toSeq.sorted}")
    }
    val graftFns = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"registered in the session: $graftFns")
  }

  /** The argument text of every `expr(` / `selectExpr(` call in `src`. */
  private def exprArgs(src: String): Seq[String] =
    """\b(?:expr|selectExpr)\(""".r.findAllMatchIn(src).map { m =>
      var (i, depth, inString) = (m.end, 1, false)
      while (i < src.length && depth > 0) {
        src(i) match {
          case '"' => inString = !inString
          case '(' if !inString => depth += 1
          case ')' if !inString => depth -= 1
          case _ =>
        }
        i += 1
      }
      src.substring(m.end, i)
    }.toSeq

  private val sqlNativeCall = """\bgraft_\w+\(""".r

  test("source gate: main code builds native calls as Columns, never by SQL name") {
    assert(exprArgs("""df.select(expr("try_divide(graft_dot(a, b), n)"))""")
      .exists(sqlNativeCall.findFirstIn(_).nonEmpty), "the gate must see expr text")
    assert(exprArgs("""df.selectExpr("id", "graft_dot(a, b) AS d")""")
      .exists(sqlNativeCall.findFirstIn(_).nonEmpty), "the gate must see selectExpr text")
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no main sources under $root")
    val bad = files.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      (if (src.contains("call_function(\"graft_")) Seq(s"$p: call_function") else Nil) ++
        exprArgs(src).filter(sqlNativeCall.findFirstIn(_).nonEmpty).map(a => s"$p: $a")
    }
    assert(bad.isEmpty, "build these with the NativeFunction's call: " + bad.mkString("; "))
  }
}
