package graft

import graft.expressions._
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{array, lit}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The spark.sql.extensions deployment path: a session built with
  * GraftExtensions resolves the native functions in plain SQL, to the
  * expressions their Column builders make.
  *
  * Needs its OWN SparkSession (extensions apply at session build), but
  * must not disturb the suite-shared one: clear the default/active
  * session so getOrCreate builds fresh over the same SparkContext,
  * restore afterwards, and never call stop() (that would kill the
  * shared context for every later spec).
  */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtensionSession[T](body: SparkSession => T): T = {
    SparkSpec.session  // ensure the shared context exists first
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions: the conf-string form (spark.sql.extensions=…) only
    // applies when the SparkContext itself is born, which a shared-JVM
    // suite can't do; the programmatic form applies to any new session
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expressions.GraftExtensions())
      .getOrCreate()
    try body(spark)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  /** Each SQL call this spec makes, its Column-builder form, and a check
    * on its value.
    */
  private val calls: Seq[(String, Column, Row => Unit)] = {
    def strs(xs: String*): Column = array(xs.map(lit): _*)
    def float(x: String): Column = lit(BigDecimal(x)).cast("float")
    Seq(
      ("graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))",
        FloatDot.call(array(float("1.0"), float("2.0")), array(float("3.0"), float("4.0"))),
        r => assert(r.getDouble(0) == 11.0)),
      ("graft_shingle_perm_minhash(array('a','b','c','d'), 3, 8)",
        ShinglePermMinHash.call(strs("a", "b", "c", "d"), lit(3), lit(8)),
        r => {
          val sigs = r.getSeq[String](0)
          assert(sigs.length == 8 && sigs.forall(_.matches("[0-9]{20}")))
        }),
      ("graft_simhash64(array('a','b')) = graft_simhash64(array('b','a'))",
        SimHash64.call(strs("a", "b")) === SimHash64.call(strs("b", "a")),
        r => assert(r.getBoolean(0), "simhash is order-independent")),
      ("graft_shingle_minhash(array('a','b','c','d'), 3, 2)",
        ShingleMinHash.call(strs("a", "b", "c", "d"), lit(3), lit(2)),
        r => assert(r.getSeq[String](0).length == 2)),
      ("graft_rolling_winnow(array('a','b','c','d','e'), 3, 2)",
        RollingWinnow.call(strs("a", "b", "c", "d", "e"), lit(3), lit(2)),
        r => {
          val fp = r.getSeq[Long](0)
          assert(fp.nonEmpty && fp.forall(v => v >= 0L))
        }),
      ("graft_char_trigrams('abcd')", CharTrigrams.call(lit("abcd")),
        r => assert(r.getSeq[String](0) == Seq("abc", "bcd"))),
      ("graft_trigram_jaccard('abcd', 'abcd')", TrigramJaccard.call(lit("abcd"), lit("abcd")),
        r => assert(r.getDouble(0) == 1.0)),
      ("graft_shingles(array('a','b','c'), 2)", WordShingles.call(strs("a", "b", "c"), lit(2)),
        r => assert(r.getSeq[String](0) == Seq("a b", "b c"))))
  }

  test("graft_dot resolves via spark.sql.extensions") {
    withExtensionSession { spark =>
      // every native function resolves in plain SQL via the one hook
      for ((sql, _, check) <- calls) check(spark.sql(s"SELECT $sql AS v").collect().head)
    }
  }

  test("each SQL call and its Column builder give the same analyzed plan") {
    withExtensionSession { spark =>
      val base = spark.range(1)
      for ((sql, column, _) <- calls) {
        val viaSql = base.selectExpr(s"$sql AS v")
        val viaColumn = base.select(column.as("v"))
        assert(viaColumn.queryExecution.analyzed.canonicalized ==
          viaSql.queryExecution.analyzed.canonicalized, sql)
        assert(viaColumn.collect().toSeq == viaSql.collect().toSeq, sql)
      }
    }
  }

  /** Every `NativeFunction` object in `graft.expressions`, found on the
    * class path rather than listed by hand.
    */
  private def nativeFunctions(): Seq[NativeFunction] = {
    val pkg = "graft/expressions"
    val loader = getClass.getClassLoader
    // the suite runs from sbt's class directories
    val files = loader.getResources(pkg).asScala.toSeq
      .flatMap(url => new java.io.File(url.toURI).list().toSeq)
    files.filter(_.endsWith("$.class")).distinct.flatMap { f =>
      val cls = Class.forName(pkg.replace('/', '.') + "." + f.stripSuffix(".class"),
        false, loader)
      scala.util.Try(cls.getField("MODULE$").get(null)).toOption.collect {
        case nf: NativeFunction => nf
      }
    }
  }

  test("every NativeFunction object resolves via spark.sql.extensions") {
    // found on the class path, so a new native function that the
    // extension list misses fails here
    val found = nativeFunctions()
    assert(found.size == 19, found.map(_.entry._1.funcName).sorted.mkString(", "))
    assert(found.toSet == GraftExtensions.functions.toSet)
    withExtensionSession { spark =>
      val ext = spark.sessionState.functionRegistry
      for (nf <- found) {
        val (id, info, _) = nf.entry
        assert(ext.lookupFunction(id).map(_.getClassName) == Some(info.getClassName), id)
        assert(spark.catalog.functionExists(id.funcName), id)
      }
    }
  }
}
