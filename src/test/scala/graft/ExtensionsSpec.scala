package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The spark.sql.extensions deployment path: a session built with
  * GraftExtensions resolves the native functions in plain SQL.
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

  test("graft_dot resolves via spark.sql.extensions") {
    withExtensionSession { spark =>
      val out = spark.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .collect().head.getDouble(0)
      assert(out == 11.0)
      // every native function resolves in plain SQL via the one hook
      val sigs = spark.sql(
        "SELECT graft_shingle_perm_minhash(array('a','b','c','d'), 3, 8) AS s")
        .collect().head.getSeq[String](0)
      assert(sigs.length == 8 && sigs.forall(_.matches("[0-9]{20}")))
      val shRow = spark.sql(
        "SELECT graft_simhash64(array('a','b')) AS h, graft_simhash64(array('b','a')) AS h2")
        .collect().head
      assert(shRow.getLong(0) == shRow.getLong(1), "simhash is order-independent")
      val mh = spark.sql("SELECT graft_shingle_minhash(array('a','b','c','d'), 3, 2) AS m")
        .collect().head.getSeq[String](0)
      assert(mh.length == 2)
      val fp = spark.sql("SELECT graft_rolling_winnow(array('a','b','c','d','e'), 3, 2) AS f")
        .collect().head.getSeq[Long](0)
      assert(fp.nonEmpty && fp.forall(v => v >= 0L))
      val tg = spark.sql("SELECT graft_char_trigrams('abcd') AS g")
        .collect().head.getSeq[String](0)
      assert(tg == Seq("abc", "bcd"))
      val tj = spark.sql("SELECT graft_trigram_jaccard('abcd', 'abcd') AS j")
        .collect().head.getDouble(0)
      assert(tj == 1.0)
      val sg = spark.sql("SELECT graft_shingles(array('a','b','c'), 2) AS g")
        .collect().head.getSeq[String](0)
      assert(sg == Seq("a b", "b c"))
    }
  }

  /** Every object in `graft.expressions` with a `register(SparkSession)`
    * method, found on the class path rather than listed by hand.
    */
  private def registerCalls(): Seq[SparkSession => Unit] = {
    val pkg = "graft/expressions"
    val loader = getClass.getClassLoader
    // the suite runs from sbt's class directories
    val files = loader.getResources(pkg).asScala.toSeq
      .flatMap(url => new java.io.File(url.toURI).list().toSeq)
    files.filter(_.endsWith("$.class")).distinct.flatMap { f =>
      val cls = Class.forName(pkg.replace('/', '.') + "." + f.stripSuffix(".class"),
        false, loader)
      scala.util.Try(cls.getMethod("register", classOf[SparkSession])).toOption.map { m =>
        (s: SparkSession) => { m.invoke(cls.getField("MODULE$").get(null), s); () }
      }
    }
  }

  test("every function a register method installs resolves via spark.sql.extensions") {
    // the names come from the function registry of a session in which
    // every register method ran, so a new native function that the
    // extension hook misses fails here
    val registered = SparkSpec.session.newSession()
    val registry = registered.sessionState.functionRegistry
    def graftNames = registry.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(graftNames.isEmpty, "a new session starts without native functions")
    val calls = registerCalls()
    assert(calls.size >= 18, s"found ${calls.size} register methods")
    calls.foreach(_(registered))
    val names = graftNames
    assert(names.size >= 19, names.toSeq.sorted.mkString(", "))
    withExtensionSession { spark =>
      val ext = spark.sessionState.functionRegistry
      val missing = names.filterNot(n => ext.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected by GraftExtensions: ${missing.toSeq.sorted}")
      for (n <- names) {
        val id = FunctionIdentifier(n)
        assert(ext.lookupFunction(id).map(_.getClassName) ==
          registry.lookupFunction(id).map(_.getClassName), n)
        assert(spark.catalog.functionExists(n), n)
      }
    }
  }
}
