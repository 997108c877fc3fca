package graft

import graft.query.HumioQuery
import org.apache.spark.sql.functions._

class HumioQuerySpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "click", 10.0, 100L), (2L, "view", 20.0, 200L),
    (3L, "click", 30.0, 300L), (4L, "error", 40.0, 400L))
    .toDF("event_id", "event_type", "value", "user_id")

  test("filter + select + sort") {
    val out = HumioQuery.run(df, "value >= 20.0 | select(event_id) | sort(event_id, order=desc)")
      .as[Long].collect().toSeq
    assert(out == Seq(4L, 3L, 2L))
  }

  test("equality, inequality, wildcard filters") {
    assert(HumioQuery.run(df, "event_type = click").count() == 2)
    assert(HumioQuery.run(df, "event_type != click").count() == 2)
    assert(HumioQuery.run(df, "event_type = c*").count() == 2)
    assert(HumioQuery.run(df, "event_type = *i*").count() == 3)
    assert(HumioQuery.run(df, """event_type = "click"""").count() == 2)
  }

  test("groupBy with aggregate functions") {
    val counts = HumioQuery.run(df, "groupBy(event_type) | sort(event_type)")
      .as[(String, Long)].collect().toSeq
    assert(counts == Seq(("click", 2L), ("error", 1L), ("view", 1L)))
    val sums = HumioQuery.run(df, "groupBy(event_type, function=sum(value)) | sort(event_type)")
      .as[(String, Double)].collect().toMap
    assert(sums("click") == 40.0)
  }

  test("head limits") {
    assert(HumioQuery.run(df, "sort(event_id) | head(2)").count() == 2)
  }

  test("sort(limit=) plans TakeOrderedAndProject, not a full sort") {
    val q = HumioQuery.run(df, "sort(value, order=desc, limit=2)")
    assert(q.as[(Long, String, Double, Long)].collect().map(_._1).toSeq == Seq(4L, 3L))
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "limit must fuse into the sort")
  }

  // ---- small global sorts plan in one partition (HumioQuery.globalSort).
  // A Seq-built frame has a row bound, which keeps Spark's plan, so the
  // gate is exercised over a file-backed input of several partitions ----

  private lazy val filed: org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sort").toString + "/ev"
    df.repartition(3).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val smallSorts = Seq(
    "groupBy(event_type) | sort(event_type, order=desc)" ->
      Seq[Any]("view", "error", "click"),
    "value >= 20.0 | select(event_id) | sort(event_id, order=desc)" ->
      Seq[Any](4L, 3L, 2L))

  private def plannedRows(q: String): (String, Seq[Any]) = {
    val out = HumioQuery.run(filed, q)
    val rows = out.collect().map(_.get(0)).toSeq
    (out.queryExecution.executedPlan.toString, rows)
  }

  test("a small limit-free sort plans in one partition: no range exchange") {
    assert(filed.rdd.getNumPartitions > 1, "the gate needs a multi-partition input")
    smallSorts.foreach { case (q, expected) =>
      val (plan, rows) = plannedRows(q)
      assert(!plan.contains("rangepartitioning"), s"$q range-partitions:\n$plan")
      assert(plan.contains("Coalesce 1"), s"$q does not sort in one partition:\n$plan")
      assert(rows == expected, q)
    }
  }

  test("with broadcast off (threshold -1) the same sorts range-partition, same rows") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try smallSorts.foreach { case (q, expected) =>
      // built after the conf is set: the gate reads it at build time
      val (plan, rows) = plannedRows(q)
      assert(plan.contains("rangepartitioning"), s"$q sorts in one partition:\n$plan")
      assert(!plan.contains("Coalesce 1"), q)
      assert(rows == expected, q)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sort(limit=) over a gate-eligible input still plans TakeOrderedAndProject") {
    val q = HumioQuery.run(filed, "sort(value, order=desc, limit=2)")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    assert(q.collect().map(_.getAs[Long]("event_id")).toSeq == Seq(4L, 3L))
  }

  test("chained pipeline matches hand-built DataFrame") {
    val dsl = HumioQuery.run(df,
      "event_type != error | groupBy(user_id, function=max(value)) | sort(user_id)")
      .as[(Long, Double)].collect().toSeq
    val hand = df.where(col("event_type") =!= "error")
      .groupBy("user_id").agg(max("value")).orderBy("user_id")
      .as[(Long, Double)].collect().toSeq
    assert(dsl == hand)
  }

  test("regex filter, free-text search, json extract") {
    val d = Seq(
      (1L, "click", """{"k": 9}"""), (2L, "view", """{"k": 99}"""),
      (3L, "error", "not json"))
      .toDF("event_id", "event_type", "props")
    assert(HumioQuery.run(d, "event_type = /^(click|view)$/").count() == 2)
    // top-level alternation: the '|' inside /…/ must not split the pipe
    assert(HumioQuery.run(d, "event_type = /click|view/ | head(10)").count() == 2)
    // a plain slash in a value must NOT open a regex
    assert(HumioQuery.run(d.withColumn("p", lit("a/b")), "p = a/b | head(10)").count() == 3)
    assert(HumioQuery.run(d, "search(json)").count() == 1)  // only "not json" contains it
    assert(HumioQuery.run(d, "search(k)").count() == 2)     // {"k":...} rows; "error"/"not json" lack k
    assert(HumioQuery.run(d, "search(nothere)").count() == 0)
    val ks = HumioQuery.run(d, "extract(props, k) | select(event_id, k) | sort(event_id)")
      .as[(Long, Option[String])].collect().toSeq
    assert(ks == Seq((1L, Some("9")), (2L, Some("99")), (3L, None)),
      "corrupt JSON extracts to null, not failure")
  }

  test("the pipe language runs unchanged on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // stateful streaming verbs require the event-time watermark run()
    // can't stamp itself (runStream does); unwatermarked input fails
    // early with the verb named
    val bare = mem.toDF().toDF("ts", "event_type")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(bare, "timechart(event_type, span=1h)")
    }
    assert(e.getMessage.contains("timechart() on a stream needs an event-time watermark"))
    val stream = bare.withWatermark("ts", "10 minutes")
    // same compiler, streaming input: timechart becomes a streaming agg
    val out = HumioQuery.run(stream, "event_type != error | timechart(event_type, span=1h)")
    val q = out.writeStream.format("memory").queryName("dslstream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(50L)).start()
    def t(min: Int) = new java.sql.Timestamp(3600000L + min * 60000L)
    mem.addData((t(0), "click"), (t(5), "click"), (t(10), "error"))
    q.processAllAvailable()
    val rows = spark.sql("select event_type, _count from dslstream")
      .as[(String, Long)].collect().toMap
    q.stop()
    assert(rows == Map("click" -> 2L), "error filtered; clicks bucketed")
  }

  test("sort on a stream keeps Spark's plan (complete mode after an aggregation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = HumioQuery.run(mem.toDF().toDF("event_id", "event_type"),
      "groupBy(event_type) | sort(event_type, order=desc)")
    val q = out.writeStream.format("memory").queryName("dslsortstream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(50L)).start()
    mem.addData((1L, "click"), (2L, "view"), (3L, "click"), (4L, "error"))
    q.processAllAvailable()
    val rows = spark.sql("select event_type, _count from dslsortstream")
      .as[(String, Long)].collect().toSeq
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.toString
    q.stop()
    assert(rows == Seq(("view", 1L), ("error", 1L), ("click", 2L)))
    assert(!plan.contains("Coalesce"), s"a stream must keep Spark's sort plan:\n$plan")
  }

  test("the narrow verbs (in/replace/format/default/rename) run on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("event_id", "event_type")
    val out = HumioQuery.run(stream,
      """in(event_type, values=[click, vi*]) | replace(/^v/, with=V, field=event_type)
        || rename(field=event_type, as=et) | format("%s#%d", field=[et, event_id], as=tag)
        || default(field=extra, value=none) | kind := if(startsWith(tag, "c"), then="C", else="O")
        || select(event_id, tag, extra, kind)"""
        .stripMargin.replace("\n", " "))
    val q = out.writeStream.format("memory").queryName("dslnarrow")
      .outputMode("append").trigger(Trigger.ProcessingTime(50L)).start()
    mem.addData((1L, "click"), (2L, "view"), (3L, "error"))
    q.processAllAvailable()
    val rows = spark.sql("select event_id, tag, extra, kind from dslnarrow")
      .as[(Long, String, String, String)].collect().toSet
    q.stop()
    assert(rows == Set((1L, "click#1", "none", "C"), (2L, "View#2", "none", "O")),
      s"got $rows")
  }

  test("eval / := compute fields with standard precedence and parens") {
    val out = HumioQuery.run(df,
      "eval(a = value + user_id * 2) | b := (value + user_id) * 2 | select(event_id, a, b) | sort(event_id)")
      .as[(Long, Double, Double)].collect().toSeq
    assert(out.head == ((1L, 210.0, 220.0)), s"precedence/parens wrong: ${out.head}")
    // % and division
    val m = HumioQuery.run(df, "m := user_id % 3 | select(event_id, m) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L && m(2L) == 2L && m(3L) == 0L)
  }

  test("top(percent=true): share of the pre-limit total; weighted form refused") {
    val out = HumioQuery.run(df, "top(event_type, limit=2, percent=true)")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("click", 2L, 50.0), ("error", 1L, 25.0)),
      s"got $out — percent must use the PRE-limit denominator")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(df, "top(event_type, sum=value, percent=true)")
    }
    assert(e.getMessage.contains("count form only"))
  }

  test("negated regex filter: field != /re/ keeps non-matching events") {
    assert(HumioQuery.run(df, "event_type != /^(click|view)$/").count() == 1)
    assert(HumioQuery.run(df, "event_type != /x/").count() == 4)
    // NULL passes neither polarity (the literal-op convention)
    val withNull = df.withColumn("maybe",
      when(col("event_id") === 1L, col("event_type")))
    assert(HumioQuery.run(withNull, "maybe = /cl/").count() == 1)
    assert(HumioQuery.run(withNull, "maybe != /cl/").count() == 0)
  }

  test("collect(): sorted distinct values, limit caps after the sort") {
    val all = HumioQuery.run(df, "collect(event_type, as=types)")
      .as[String].collect().head
    assert(all == "click error view")
    val capped = HumioQuery.run(df, "collect(event_type, limit=2, as=types)")
      .as[String].collect().head
    assert(capped == "click error", "limit keeps the first n AFTER sorting")
    // numeric fields stringify; default output name is the field
    val ids = HumioQuery.run(df, "value >= 30.0 | collect(event_id)")
    assert(ids.columns.toSeq == Seq("event_id"))
    assert(ids.as[String].collect().head == "3 4")
  }

  test("multi-assignment case (branch-union plan) runs on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("event_id", "event_type")
    val out = HumioQuery.run(stream,
      """case { event_type = click | kind := "i" | w := event_id * 2 ;
        |       event_type = view | kind := "p" ;
        |       * | kind := "o" | w := 0 }
        || select(event_id, kind, w)""".stripMargin.replace("\n", " "))
    val q = out.writeStream.format("memory").queryName("case_multi_stream")
      .outputMode("append").start()
    mem.addData((1L, "click"), (2L, "view"), (3L, "error"))
    q.processAllAvailable()
    val rows = spark.sql("select event_id, kind, w from case_multi_stream")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    q.stop()
    assert(rows == Set((1L, "i", 2L), (2L, "p", -1L), (3L, "o", 0L)), s"got $rows")
  }

  test("case: multi-assignment arms run sequentially, first match wins, unassigned fields NULL") {
    val out = HumioQuery.run(df,
      """case { value >= 30 | kind := "big" | dbl := value * 2 | quad := dbl * 2 ;
        |       event_type = click | kind := "click" ;
        |       * | kind := "rest" }
        || select(event_id, kind, dbl, quad) | sort(event_id)"""
        .stripMargin.replace("\n", " "))
      .collect()
    // row 3 (click, 30): value>=30 matches FIRST — not the click arm
    val r3 = out.find(_.getLong(0) == 3L).get
    assert(r3.getString(1) == "big" && r3.getDouble(2) == 60.0 &&
      r3.getDouble(3) == 120.0, "sequential: quad sees dbl's new value")
    // row 1 (click, 10): second arm; dbl/quad unassigned → NULL
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getString(1) == "click" && r1.isNullAt(2) && r1.isNullAt(3))
    // row 2 (view, 20): catch-all
    assert(out.find(_.getLong(0) == 2L).get.getString(1) == "rest")
    assert(out.length == 4)
  }

  test("wildcard(): glob match as a truthiness function") {
    val out = HumioQuery.run(df,
      "w := wildcard(event_type, \"c*ck\") | q := wildcard(event_type, \"v?ew\") " +
        "| select(event_id, w, q) | sort(event_id)")
      .as[(Long, String, String)].collect().toSeq
    assert(out(0) == ((1L, "true", "false")))
    assert(out(1) == ((2L, "false", "true")))
    assert(out(3) == ((4L, "false", "false")))
    // usable as an if() condition
    assert(HumioQuery.run(df,
      "k := if(wildcard(event_type, \"*r*\"), then=1, else=0) | k = 1").count() == 1)
  }

  test("if() condition grammar: random boolean trees and flat chains match a Scala twin") {
    import scala.util.Random
    val rnd = new Random(11)
    val ops = Seq(">", ">=", "<", "<=", "==", "!=")
    def cmp(op: String, v: Double, x: Double): Boolean = op match {
      case ">" => v > x;  case ">=" => v >= x; case "<" => v < x
      case "<=" => v <= x; case "==" => v == x; case "!=" => v != x
    }
    val rows = Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0)
    def check(cond: String, expect: Double => Boolean): Unit = {
      val q = s"k := if($cond, then=1, else=0) | select(event_id, k) | sort(event_id)"
      val got = HumioQuery.run(df, q).as[(Long, Long)].collect().toMap
      rows.foreach { case (id, v) =>
        assert(got(id) == (if (expect(v)) 1L else 0L), s"'$q' at value $v") }
    }
    // nested parenthesized trees
    sealed trait C
    case class Leaf(op: String, x: Double) extends C
    case class Node(and: Boolean, l: C, r: C) extends C
    def gen(d: Int): C =
      if (d == 0 || rnd.nextInt(3) == 0)
        Leaf(ops(rnd.nextInt(6)), rnd.nextInt(5) * 10.0)
      else Node(rnd.nextBoolean(), gen(d - 1), gen(d - 1))
    def render(c: C): String = c match {
      case Leaf(op, x) => s"value $op $x"
      case Node(a, l, r) =>
        s"(${render(l)}) ${if (a) "and" else "or"} (${render(r)})"
    }
    def eval(c: C, v: Double): Boolean = c match {
      case Leaf(op, x) => cmp(op, v, x)
      case Node(a, l, r) =>
        if (a) eval(l, v) && eval(r, v) else eval(l, v) || eval(r, v)
    }
    (1 to 8).foreach { _ =>
      val c = gen(3); check(render(c), eval(c, _))
    }
    // flat unparenthesized chains — 'and' must bind tighter than 'or'
    (1 to 8).foreach { _ =>
      val leaves = List.fill(2 + rnd.nextInt(3))(
        (ops(rnd.nextInt(6)), rnd.nextInt(5) * 10.0))
      val joins = List.fill(leaves.size - 1)(rnd.nextBoolean()) // true = and
      val cond = leaves.zipWithIndex.map { case ((op, x), i) =>
        (if (i == 0) "" else if (joins(i - 1)) " and " else " or ") +
          s"value $op $x"
      }.mkString
      def expect(v: Double): Boolean = {
        // split into OR groups of AND runs
        val terms = leaves.map { case (op, x) => cmp(op, v, x) }
        var orAcc = false; var andAcc = terms.head
        joins.zip(terms.tail).foreach { case (isAnd, t) =>
          if (isAnd) andAcc &&= t else { orAcc ||= andAcc; andAcc = t }
        }
        orAcc || andAcc
      }
      check(cond, expect)
    }
  }

  test("math:log10 / math:log2 evaluate the right base") {
    val out = HumioQuery.run(df,
      "a := math:log10(value * 10) | b := math:log2(value * value / 25) " +
        "| select(event_id, a, b) | sort(event_id)")
      .as[(Long, Double, Double)].collect().toSeq
    // row 1: value 10 → log10(100) = 2, log2(100/25 = 4) = 2
    assert(out.head == ((1L, 2.0, 2.0)), s"got ${out.head}")
    // row 3: value 30 → log10(300) ≈ 2.477, log2(36) ≈ 5.1699 — distinct
    // from each other, so a base swap cannot pass
    assert(math.abs(out(2)._2 - math.log10(300.0)) < 1e-12)
    assert(math.abs(out(2)._3 - math.log(36.0) / math.log(2.0)) < 1e-12)
  }

  test("stdDev(): exact sample stddev, NULL for singleton groups") {
    val out = HumioQuery.run(df,
      "groupBy(event_type, function=[count(), stdDev(value)]) | sort(event_type)")
      .collect()
    // click: {10, 30} → sample sd = sqrt(200) = 14.142135…, detRound4 → 14.1421
    val click = out.find(_.getString(0) == "click").get
    assert(click.getDouble(2) == 14.1421, s"got ${click.getDouble(2)}")
    // singleton groups (view, error) follow the stddev_samp NULL convention
    assert(out.find(_.getString(0) == "error").get.isNullAt(2))
  }

  test("if(): comparisons, and/or, labeled branches in either order, nesting") {
    val out = HumioQuery.run(df,
      "eval(band = if(value >= 30, then=\"hi\", else=if(value >= 20, then=\"mid\", else=\"lo\"))) " +
        "| select(event_id, band) | sort(event_id)")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "lo"), (2L, "mid"), (3L, "hi"), (4L, "hi")))
    // labels in else-first order, == and != comparisons
    val m = HumioQuery.run(df,
      "f := if(event_type == \"click\", else=0, then=1) " +
        "| g := if(event_type != \"click\", then=1, else=0) | select(event_id, f, g) | sort(event_id)")
      .as[(Long, Long, Long)].collect().map { case (i, f, g) => i -> ((f, g)) }.toMap
    assert(m(1L) == ((1L, 0L)) && m(2L) == ((0L, 1L)))
    // positional branches
    assert(HumioQuery.run(df, "p := if(value < 15, 1, 2) | p = 1").count() == 1)
  }

  test("if() condition grouping: boolean parens vs arithmetic parens") {
    // (cond) and (cond) — parenthesized boolean groups
    val n = HumioQuery.run(df,
      "k := if((value >= 20 and value < 40) or event_type == \"click\", then=1, else=0) | k = 1")
    assert(n.count() == 3, "rows 1,2,3 match; the error row (40.0) does not")
    // (a + b) * 2 > c — the paren is ARITHMETIC and must fall through
    val a = HumioQuery.run(df,
      "k := if((value + 10) * 2 >= 80, then=1, else=0) | k = 1")
    assert(a.count() == 2, "(30+10)*2 and (40+10)*2 clear 80")
  }

  test("string predicates return truthiness strings and work as if() conditions") {
    val out = HumioQuery.run(df,
      "hit := startsWith(event_type, \"c\") " +
        "| e := endsWith(event_type, \"w\") | c := contains(event_type, \"rro\") " +
        "| k := if(contains(event_type, \"ick\"), then=1, else=0) " +
        "| select(event_id, hit, e, c, k) | sort(event_id)")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(out(0) == ((1L, "true", "false", "false", 1L)))
    assert(out(1) == ((2L, "false", "true", "false", 0L)))
    assert(out(3) == ((4L, "false", "false", "true", 0L)))
    // truthiness string filters back with = true (LogScale convention)
    assert(HumioQuery.run(df, "hit := startsWith(event_type, \"c\") | hit = true").count() == 2)
    // bare truthiness in condition position compares against "true"
    assert(HumioQuery.run(df,
      "h := endsWith(event_type, \"k\") | k := if(h, then=1, else=0) | k = 1").count() == 2)
  }

  test("in(): equality and wildcard membership OR'd into one filter") {
    assert(HumioQuery.run(df, "in(event_type, values=[error, vi*])").count() == 2)
    assert(HumioQuery.run(df, "in(event_id, values=[1, 3])").count() == 2)
  }

  test("fields/drop/rename reshape columns") {
    val out = HumioQuery.run(df, "rename(field=event_type, as=etype) | fields(event_id, etype) | sort(event_id)")
    assert(out.columns.toSeq == Seq("event_id", "etype"))
    val dropped = HumioQuery.run(df, "drop(value, user_id)")
    assert(dropped.columns.toSeq == Seq("event_id", "event_type"))
  }

  test("replace() rewrites via regex with group references") {
    val m = HumioQuery.run(df,
      """replace(/^(c)l/, with="$1L", field=event_type, as=e2) | select(event_id, e2) | sort(event_id)""")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "cLick" && m(2L) == "view")
    // default as= overwrites the field in place
    val inPlace = HumioQuery.run(df, "replace(/click/, with=tap, field=event_type)")
    assert(inPlace.where(col("event_type") === "tap").count() == 2)
  }

  test("format() builds printf-style derived fields") {
    val m = HumioQuery.run(df,
      """format("%s:%d", field=[event_type, user_id], as=tag) | select(event_id, tag) | sort(event_id)""")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "click:100" && m(4L) == "error:400")
  }

  test("default() fills NULLs and creates absent fields") {
    val withNull = df.withColumn("maybe",
      when(col("event_id") === 1L, lit(null).cast("string")).otherwise(col("event_type")))
    val filled = HumioQuery.run(withNull, "default(field=maybe, value=unknown)")
    assert(filled.where(col("maybe") === "unknown").count() == 1)
    val created = HumioQuery.run(df, "default(field=brand_new, value=x)")
    assert(created.where(col("brand_new") === "x").count() == 4)
  }

  test("standalone aggregates produce one ungrouped row") {
    assert(HumioQuery.run(df, "count(as=n)").as[Long].head() == 4L)
    assert(HumioQuery.run(df, "event_type = click | sum(user_id, as=total)")
      .as[Long].head() == 400L)
    assert(HumioQuery.run(df, "avg(value)").as[Double].head() == 25.0)
    assert(HumioQuery.run(df, "max(value, as=hi)").as[Double].head() == 40.0)
  }

  test("percentile() emits _NN columns, exact interpolation") {
    val out = HumioQuery.run(df, "percentile(value, percentiles=[50, 100])")
    assert(out.columns.toSeq == Seq("_50", "_100"))
    val (p50, p100) = out.as[(Double, Double)].head()
    assert(p50 == 25.0 && p100 == 40.0)   // quantile_cont midpoint of 20,30
  }

  test("bucket() groups on _bucket like timechart's generic sibling") {
    val tdf = df.withColumn("ts", expr("timestamp_millis(CAST(event_id * 90000 AS BIGINT))"))
    val out = HumioQuery.run(tdf, "bucket(span=3m, function=sum(user_id)) | sort(_bucket)")
      .as[(Long, Long)].collect().toSeq
    // 90s spacing → events 1,2,3,4 at 90/180/270/360s; 3m buckets: [0,180)={1},[180,360)={2,3},[360..)={4}
    assert(out == Seq((0L, 100L), (180000L, 500L), (360000L, 400L)))
  }

  test("join() joins against a subquery of the same input, broadcast") {
    val out = HumioQuery.run(df,
      "join({event_type = click | groupBy(event_type)}, field=event_type) " +
        "| select(event_id, event_type, _count) | sort(event_id)")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "click", 2L), (3L, "click", 2L)),
      s"only click events survive the inner join, got $out")
    // key= and include= select the join key and carried columns
    val keyed = HumioQuery.run(df,
      "join({groupBy(event_type, function=[count(), sum(user_id)])}, field=event_type, key=event_type, include=[_sum_user_id]) " +
        "| select(event_id, _sum_user_id) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(keyed(1L) == 400L && keyed(2L) == 200L)
    val plan = HumioQuery.run(df,
      "join({groupBy(event_type)}, field=event_type)").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "subquery side must broadcast")
  }

  test("quoted commas/pipes survive format(); regex commas survive replace()") {
    val m = HumioQuery.run(df,
      """format("%s, %s|%d", field=[event_type, event_type, user_id], as=t) | select(event_id, t) | sort(event_id)""")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "click, click|100", s"got ${m(1L)}")
    // brace quantifier and alternation inside the pattern
    val r = HumioQuery.run(df, "replace(/c{1,2}l/, with=KL, field=event_type, as=e2)")
    assert(r.where(col("e2") === "KLick").count() == 2)
    val r2 = HumioQuery.run(df,
      """replace(/(c|v)i/, with="$1I", field=event_type, as=e3) | select(event_id, e3) | sort(event_id)""")
      .as[(Long, String)].collect().toMap
    // 'click' has no (c|v) directly before an 'i' → untouched; 'view' does
    assert(r2(1L) == "click" && r2(2L) == "vIew", s"got $r2")
  }

  test("count(field) counts present values, bare count() counts rows") {
    val withNull = df.withColumn("maybe",
      when(col("event_id") <= 2, col("event_type")))
    assert(HumioQuery.run(withNull, "count(maybe, as=n)").as[Long].head() == 2L)
    assert(HumioQuery.run(withNull, "count(as=n)").as[Long].head() == 4L)
  }

  test("fractional percentiles name with underscores, referenceable downstream") {
    val out = HumioQuery.run(df, "percentile(value, percentiles=[99.9]) | select(_99_9)")
    assert(out.columns.toSeq == Seq("_99_9"))
  }

  test("tail() returns the most recent events; format= named form works") {
    val tdf = df.withColumn("ts",
      expr("timestamp_millis(CAST(event_id * 1000 AS BIGINT))"))
    val out = HumioQuery.run(tdf, "tail(2) | select(event_id) | sort(event_id)")
      .as[Long].collect().toSeq
    assert(out == Seq(3L, 4L))
    val m = HumioQuery.run(df,
      """format(format="%s/%d", field=[event_type, event_id], as=t) | select(event_id, t) | sort(event_id)""")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "click/1")
  }

  test("session() and join() reject streaming inputs with the stage name") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val bare = mem.toDF().toDF("ts", "user_id")
    // stateful session() on an unwatermarked stream fails early, named
    val e1 = intercept[IllegalArgumentException] {
      HumioQuery.run(bare, "session(field=user_id)")
    }
    assert(e1.getMessage.contains("session() on a stream needs an event-time watermark"))
    val sdf = bare.withWatermark("ts", "10 minutes")
    // session() now has a streaming twin: the session_window AGGREGATE
    // shape instead of the batch per-event index (HumioStreamSpec)
    assert(HumioQuery.run(sdf, "session(field=user_id)").columns.toSeq ==
      Seq("user_id", "_session_start", "_session_end", "_count"))
    // unbanded join on a stream: reasoned error pointing at within=
    val e2 = intercept[IllegalArgumentException] {
      HumioQuery.run(sdf, "join({groupBy(user_id)}, field=user_id)")
    }
    assert(e2.getMessage.contains("needs within="))
    // banded but aggregated subquery: still refused, with the reason
    val e2b = intercept[IllegalArgumentException] {
      HumioQuery.run(sdf, "join({groupBy(user_id)}, field=user_id, within=30s)")
    }
    assert(e2b.getMessage.contains("STATELESS subquery"))
    val e3 = intercept[IllegalArgumentException] {
      HumioQuery.run(sdf, "tail(3)")
    }
    assert(e3.getMessage.contains("tail() is a batch stage"))
  }

  test("regex literals own quotes; slashes in later args keep their ground") {
    // a '/' in a later argument must not extend the pattern
    val m = HumioQuery.run(df,
      "replace(/ck/, with=a/b, field=event_type, as=e2) | select(event_id, e2) | sort(event_id)")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "clia/b", s"got ${m(1L)}")
    // a quote inside a regex doesn't poison the quote state of the splitter
    val d2 = df.withColumn("msg",
      concat(lit("say \""), col("event_type"), lit("\"")))
    val q = HumioQuery.run(d2,
      """case { msg = /"/ | kind := "quoted" ; * | kind := "other" } | groupBy(kind) | sort(kind)""")
      .as[(String, Long)].collect().toMap
    assert(q == Map("quoted" -> 4L), s"got $q")
    // an escaped slash matches a literal slash
    val d3 = df.withColumn("path", lit("a/b"))
    assert(HumioQuery.run(d3, """path = /a\/b/""").count() == 4)
    assert(HumioQuery.run(d3, """replace(/a\/b/, with=X, field=path) | path = X""").count() == 4)
  }

  test("session() works without an event_id column (ts-only ordering)") {
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    val tdf = Seq((10L, t(0)), (10L, t(40))).toDF("user_id", "ts")
    val out = HumioQuery.run(tdf, "session(field=user_id, maxpause=30m) | select(_session) | sort(_session)")
      .as[Long].collect().toSeq
    assert(out == Seq(0L, 1L))
  }

  test("session() indexes per-key sessions by maxpause gaps") {
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    val tdf = Seq(
      (1L, 10L, t(0)), (2L, 10L, t(5)),   // user 10: gap 5m → same session
      (3L, 10L, t(40)),                    // gap 35m > 30m → new session
      (4L, 20L, t(0)))
      .toDF("event_id", "user_id", "ts")
    val out = HumioQuery.run(tdf, "session(field=user_id, maxpause=30m) | select(event_id, _session) | sort(event_id)")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 0L)), s"got $out")
  }

  test("unary minus: negative literals and negated fields in expressions") {
    val out = HumioQuery.run(df,
      "a := -1 | b := -value + user_id | c := -(value - user_id) | select(event_id, a, b, c) | sort(event_id)")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out.head == ((1L, -1L, 90.0, 90.0)), s"unary minus wrong: ${out.head}")
    // double negation and subtraction of a negative both parse
    val m = HumioQuery.run(df, "m := 5 - -2 | select(event_id, m) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 7L)
  }

  test("case assigns first matching arm and drops non-matching events") {
    val out = HumioQuery.run(df,
      """case { event_type = click | kind := "a" ; value >= 20.0 | kind := "b" } | select(event_id, kind) | sort(event_id)""")
      .as[(Long, String)].collect().toSeq
    // event 1: click → a; 2: value≥20 → b; 3: click wins over value≥20 (first arm);
    // 4 is error with value 40 → matches arm 2 → b
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b")))
    // without a matching arm the event is DROPPED; '*' catches all
    val dropped = HumioQuery.run(df,
      """case { event_type = click | kind := "a" }""").count()
    assert(dropped == 2)
    val caught = HumioQuery.run(df,
      """case { event_type = click | kind := "a" ; * | kind := "other" } | groupBy(kind) | sort(kind)""")
      .as[(String, Long)].collect().toSeq
    assert(caught == Seq(("a", 2L), ("other", 2L)))
  }

  test("parseJson promotes several keys; absent keys are null") {
    val d = Seq((1L, """{"k": 9, "tag": "x"}"""), (2L, """{"k": 99}"""))
      .toDF("event_id", "props")
    val out = HumioQuery.run(d, "parseJson(props, k, tag) | select(event_id, k, tag) | sort(event_id)")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(out == Seq((1L, "9", Some("x")), (2L, "99", None)))
  }

  test("regex() extracts named groups and drops non-matching events") {
    val d = Seq((1L, "code=42 ok"), (2L, "code=7 bad"), (3L, "no digits here"))
      .toDF("event_id", "msg")
    val out = HumioQuery.run(d,
      "regex(/code=(?<code>[0-9]+) (?<status>\\w+)/, field=msg) | select(event_id, code, status) | sort(event_id)")
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq((1L, "42", "ok"), (2L, "7", "bad")), "row 3 must drop")
  }

  test("namedGroups numbers capturing groups like the regex engine") {
    // plain group 1, named group 2, non-capturing skipped, named group 3
    assert(HumioQuery.namedGroups("""(a)(?<x>b)(?:c)(?<y>d)""") ==
      Seq(("x", 2), ("y", 3)))
    // lookbehind is not a capture group; escaped parens are literals
    assert(HumioQuery.namedGroups("""(?<=pre)\((?<v>\d+)\)""") == Seq(("v", 1)))
    // '(' inside a character class is a literal, not a group
    assert(HumioQuery.namedGroups("""[(](?<v>[0-9]+)[)]""") == Seq(("v", 1)))
  }

  test("multi-aggregate groupBy names results by function and field") {
    val out = HumioQuery.run(df,
      "groupBy(event_type, function=[count(), sum(user_id), max(value)]) | sort(event_type)")
    assert(out.columns.toSeq ==
      Seq("event_type", "_count", "_sum_user_id", "_max_value"))
    val click = out.where(col("event_type") === "click")
      .as[(String, Long, Long, Double)].head()
    assert(click == (("click", 2L, 400L, 30.0)))
  }

  test("the pipe language runs on the Falcon DSv2 source end-to-end") {
    import graft.sources.{FalconTableProvider, StreamDesc, StubFalconServer}
    import org.apache.spark.sql.streaming.Trigger
    StubFalconServer.reset()
    StubFalconServer.register("dslapp", Seq(StreamDesc(0, 1800)))
    (0L until 150L).foreach(o => StubFalconServer.push("dslapp", 0, o,
      s"""{"metadata": {"offset": $o, "eventType": "T"}}"""))
    val cp = java.nio.file.Files.createTempDirectory("dsl-falcon-cp").toString
    val lines = spark.readStream
      .format(classOf[FalconTableProvider].getName)
      .option("appId", "dslapp").load()
    // named-capture extraction + typed filter, compiled over the stream
    val out = HumioQuery.run(lines,
      """regex(/"offset": (?<off>[0-9]+)/, field=value) | off >= 100 | select(off)""")
    val q = out.writeStream.format("memory").queryName("dslfalcon")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime(50L)).start()
    q.processAllAvailable(); q.stop()
    assert(spark.sql("select count(*) from dslfalcon").as[Long].head() == 50L,
      "offsets 100..149 survive the compiled filter")
  }

  test("bad stage errors name the stage") {
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(df, "frobnicate(3)")
    }
    assert(e.getMessage.contains("frobnicate"))
  }

  test("dedup() keeps the n most recent events per key, event_id tie-break") {
    val tdf = Seq(
      (1L, 10L, "2024-01-01 00:00:01"), (2L, 10L, "2024-01-01 00:00:02"),
      (3L, 10L, "2024-01-01 00:00:03"), (4L, 20L, "2024-01-01 00:00:01"),
      (5L, 20L, "2024-01-01 00:00:01"))   // 4 and 5 tie on ts
      .toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val keep1 = HumioQuery.run(tdf, "dedup(user_id) | select(event_id) | sort(event_id)")
      .as[Long].collect().toSeq
    assert(keep1 == Seq(3L, 5L), s"latest per user (tie → higher event_id), got $keep1")
    val keep2 = HumioQuery.run(tdf, "dedup(user_id, limit=2) | select(event_id) | sort(event_id)")
      .as[Long].collect().toSeq
    assert(keep2 == Seq(2L, 3L, 4L, 5L))
  }

  test("match() enriches from a dimension table; strict drops, strict=false keeps") {
    val dim = Seq((100L, "gold", "x"), (300L, "silver", "y"))
      .toDF("cust_id", "tier", "junk")
    val tabs = Map("cust" -> dim)
    // strict (default): inner join, only enriched events survive
    val strict = HumioQuery.run(df,
        "match(cust, field=user_id, column=cust_id, include=[tier]) " +
          "| select(event_id, tier) | sort(event_id)", tabs)
      .as[(Long, String)].collect().toSeq
    assert(strict == Seq((1L, "gold"), (3L, "silver")))
    // strict=false: left join, unmatched events keep NULL enrichment
    val loose = HumioQuery.run(df,
        "match(cust, field=user_id, column=cust_id, include=[tier], strict=false) " +
          "| select(event_id, tier) | sort(event_id)", tabs)
      .as[(Long, Option[String])].collect().toSeq
    assert(loose.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(loose.toMap == Map(1L -> Some("gold"), 2L -> None,
      3L -> Some("silver"), 4L -> None))
    // default include = every dim column except the key; lookup is an alias
    val all = HumioQuery.run(df,
      "lookup(cust, field=user_id, column=cust_id) | sort(event_id)", tabs)
    assert(all.columns.toSet ==
      df.columns.toSet ++ Set("tier", "junk") -- Set("cust_id"))
    // the dimension side must be the broadcast build side
    val plan = HumioQuery.run(df,
        "match(cust, field=user_id, column=cust_id)", tabs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"match() must broadcast the dimension side:\n$plan")
    // unknown table names the verb and the table
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(df, "match(nope, field=user_id)", tabs)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("math scalar functions: pow/sqrt round-trip, ln/exp inverse") {
    val out = HumioQuery.run(df,
      "eval(x = pow(value, 2)) | eval(y = sqrt(x)) | y >= 20.0 " +
        "| select(event_id) | sort(event_id)")
      .as[Long].collect().toSeq
    assert(out == Seq(2L, 3L, 4L), "sqrt(pow(v,2)) == v for positive v")
    val lnexp = HumioQuery.run(df,
      "eval(z = ln(exp(value))) | z >= 39.0 | select(event_id)")
      .as[Long].collect().toSeq
    assert(lnexp == Seq(4L))
  }

  test("splitString tokenizes by regex; split fans out with _index") {
    val docs = Seq((1L, "a-b--c"), (2L, "x")).toDF("event_id", "s")
    val out = HumioQuery.run(docs,
      "splitString(field=s, by=\"-+\", as=parts) | split(parts) | sort(event_id, _index)")
      .select("event_id", "_index", "parts")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "c"), (2L, 0L, "x")))
    // the array column is consumed by split(); the element takes its name
    val cols = HumioQuery.run(docs,
      "splitString(field=s, by=\"-+\", as=parts) | split(parts)").columns.toSeq
    assert(cols.count(_ == "parts") == 1)
  }

  test("parseCsv promotes columns; short rows get NULL tails") {
    val lines = Seq((1L, "gold,7,x"), (2L, "silver")).toDF("event_id", "line")
    val out = HumioQuery.run(lines,
      "parseCsv(line, columns=[tier, n, flag]) | sort(event_id)")
      .select("tier", "n", "flag")
      .as[(String, Option[String], Option[String])].collect().toSeq
    assert(out == Seq(("gold", Some("7"), Some("x")), ("silver", None, None)))
    // promoted text supports typed filtering (the extract() path)
    assert(HumioQuery.run(lines,
      "parseCsv(line, columns=[tier, n, flag]) | n >= 5").count() == 1)
  }

  test("counterAsRate: NULL on first event, resets, and zero time delta") {
    val ev = Seq(
      (1L, 10L, "2024-01-01 00:00:00", 1L),
      (2L, 40L, "2024-01-01 00:00:10", 1L),   // +30 over 10s = 3.0
      (3L, 5L, "2024-01-01 00:00:20", 1L),    // reset (negative) -> NULL
      (4L, 6L, "2024-01-01 00:00:20", 1L),    // zero dt -> NULL
      (5L, 100L, "2024-01-01 00:00:00", 2L))  // other series first -> NULL
      .toDF("event_id", "ctr", "s", "user_id")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val out = HumioQuery.run(ev,
      "counterAsRate(ctr, by=user_id, as=rate) | select(event_id, rate) | sort(event_id)")
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty && out(3L).isEmpty && out(4L).isEmpty && out(5L).isEmpty)
    assert(out(2L).contains(3.0))
  }

  test("transpose pivots header values to columns; dynamic mode infers them") {
    val t = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    val static = HumioQuery.run(t, "transpose(header=k, columns=[a, b, c])")
    assert(static.columns.toSeq == Seq("a", "b", "c"))
    val row = static.as[(Option[Long], Option[Long], Option[Long])].collect().head
    assert(row == ((Some(1L), Some(2L), None)))
    val dynamic = HumioQuery.run(t, "transpose(header=k)")
    assert(dynamic.columns.sorted.toSeq == Seq("a", "b"))
  }

  test("transpose fails loudly on a duplicated header value") {
    val dup = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "n")
    val e = intercept[Exception] {
      HumioQuery.run(dup, "transpose(header=k)").collect()
    }
    assert(e.getMessage.contains("duplicate value in header column"))
  }

  test("counterAsRate without by= needs a bucketed input; works post-timechart") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 01:00:00"),
      (3L, "2024-01-01 01:30:00"), (4L, "2024-01-01 02:00:00"))
      .toDF("event_id", "s")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(ev, "counterAsRate(event_id)")
    }
    assert(e.getMessage.contains("by="))
    // over an aggregated bucket relation the global form is bounded:
    // cumulative count per hour -> rate of that counter between buckets
    val out = HumioQuery.run(ev,
      "timechart(span=1h) | _cum := _count | counterAsRate(_cum, as=r) | sort(_bucket_ms)")
      .select("r").as[Option[Double]].collect()
    assert(out.head.isEmpty)            // first bucket has no predecessor
    assert(out.length == 3 && out(1).isDefined)
  }

  test("parseTimestamp inverts formatTime; non-matching strings parse to NULL") {
    val t = Seq(("2024-03-01 07", 1L), ("garbage", 2L)).toDF("s", "id")
    val got = HumioQuery.run(t, "parseTimestamp(\"%Y-%m-%d %H\", field=s, as=t)")
      .select(col("id"), unix_millis(col("t")).as("ms"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L).contains(1709276400000L))   // 2024-03-01T07:00:00Z
    assert(got(2L).isEmpty)                    // leniency: NULL, not an ANSI error
  }

  test("formatTime quotes literal runs so they never leak into pattern space") {
    val t = Seq(1L).toDF("id")
      .withColumn("ts", to_timestamp(lit("2024-03-05 07:08:09")))
    // 'T' and 'day' are literals — unquoted they would be pattern letters
    val out = HumioQuery.run(t,
      "formatTime(\"day %Y-%m-%dT%H:%M:%S\", field=ts, as=f) | select(f)")
      .as[String].collect().head
    assert(out == "day 2024-03-05T07:08:09")
    intercept[IllegalArgumentException] {
      HumioQuery.run(t, "formatTime(\"%Q\", field=ts) | select(_formattime)")
    }
  }

  test("cidr matches IPv4 prefixes, including /32 and /0 boundaries") {
    val ips = Seq((1L, "10.32.0.1"), (2L, "10.63.255.254"), (3L, "10.64.0.0"),
      (4L, "10.31.255.255"), (5L, "192.168.1.1"),
      // malformed values must NOT-match (never crash under ANSI), and
      // out-of-range octets must not alias to a valid address's number
      (6L, "unknown"), (7L, "fe80::1"), (8L, "10.0.0"), (9L, "0.300.0.0"))
      .toDF("event_id", "ip")
    def ids(q: String) = HumioQuery.run(ips, q + " | sort(event_id)")
      .select("event_id").as[Long].collect().toSeq
    // /11: 10.32.0.0–10.63.255.255
    assert(ids("cidr(ip, subnet=\"10.32.0.0/11\")") == Seq(1L, 2L))
    // /32: exact host
    assert(ids("cidr(ip, subnet=\"10.64.0.0/32\")") == Seq(3L))
    // /0: everything WELL-FORMED (malformed values still filtered out);
    // 0.300.0.0 numerically aliases 1.44.0.0 but the octet bound kills it
    assert(ids("cidr(ip, subnet=\"0.0.0.0/0\")") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids("cidr(ip, subnet=\"1.44.0.0/32\")") == Seq())
    // malformed subnets fail at plan time: missing /n, short base,
    // out-of-range octet
    for (bad <- Seq("10.0.0.0", "10.32/11", "300.1.1.1/8"))
      intercept[IllegalArgumentException] {
        HumioQuery.run(ips, s"""cidr(ip, subnet="$bad")""")
      }
  }

  test("crypto/base64/round scalar functions and namespaced names") {
    val t = Seq((1L, "abc")).toDF("event_id", "s")
    val r = HumioQuery.run(t,
      "eval(h = crypto:md5(s)) | h2 := sha256(s) | b := base64Encode(s) " +
        "| rt := base64Decode(b) | n := round(length(s) / 2.0) " +
        "| select(h, h2, b, rt, n)").head
    assert(r.getString(0) == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getString(1) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(2) == "YWJj" && r.getString(3) == "abc")
    assert(r.getLong(4) == 2L)     // round half up: 1.5 -> 2
  }

  test("shannonEntropy: 0 bits for a uniform char, exact bits for a balanced alphabet") {
    val t = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd")).toDF("event_id", "s")
    val out = HumioQuery.run(t,
      "eval(e = shannonEntropy(s)) | e4 := round(e * 10000) | select(event_id, e4) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    // p=1 -> 0 bits; two chars at 1/2 -> 1 bit; four at 1/4 -> 2 bits
    assert(out == Map(1L -> 0L, 2L -> 10000L, 3L -> 20000L))
  }

  test("array functions use LogScale string truthiness; kvParse missing keys go NULL") {
    val t = Seq((1L, "x y z", "a=1 b=two"), (2L, "x", "a=3"))
      .toDF("event_id", "txt", "kv")
    val arr = HumioQuery.run(t,
      "splitString(field=txt, by=\" \", as=parts) | n := array:length(parts) " +
        "| hit := array:contains(parts, \"y\") | select(event_id, n, hit) | sort(event_id)")
      .collect()
    assert(arr(0).getLong(1) == 3L && arr(0).getString(2) == "true")
    assert(arr(1).getLong(1) == 1L && arr(1).getString(2) == "false")
    val kvp = HumioQuery.run(t,
      "kvParse(kv, keys=[a, b]) | select(event_id, a, b) | sort(event_id)").collect()
    assert(kvp(0).getString(1) == "1" && kvp(0).getString(2) == "two")
    assert(kvp(1).getString(1) == "3" && kvp(1).isNullAt(2))
  }

  test("CharEntropy matches the naive definition and is char-order independent") {
    val rnd = new scala.util.Random(42)
    def compute(s: String): Double = graft.expressions.CharEntropy.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    for (_ <- 1 to 200) {
      val len = rnd.nextInt(40)
      val s = (0 until len).map(_ => "ab0{}:,\" xyz".charAt(rnd.nextInt(12))).mkString
      val got = compute(s)
      if (s.isEmpty) assert(got == 0.0)
      else {
        val t = s.length.toDouble
        val naive = -s.groupBy(identity).values
          .map(g => (g.length / t) * math.log(g.length / t) / math.log(2.0)).sum
        // quantized-term sum: within d·2^-40 of the unquantized value
        assert(math.abs(got - naive) < 1e-9, s"'$s' got $got naive $naive")
        // any permutation of the characters yields the IDENTICAL bits —
        // the property the SQL oracle's arbitrary-order group-by relies on
        assert(compute(new String(rnd.shuffle(s.toList).toArray)) == got)
      }
    }
  }

  test("parseUrl promotes scheme/host/path/query") {
    val t = Seq((1L, "https://h.example.com/a/b?k=1")).toDF("event_id", "u")
    val r = HumioQuery.run(t,
      "parseUrl(u) | select(scheme, host, path, query)").head
    assert(r.getString(0) == "https" && r.getString(1) == "h.example.com")
    assert(r.getString(2) == "/a/b" && r.getString(3) == "k=1")
  }

  // sequence fixture: two keys, interleaved arrival order, a sub-second
  // timestamp TIE on key a (events 3 and 4) so the event_id tie-break is
  // actually exercised
  private def seqDf = Seq(
    (1L, "a", 10L, "2024-03-05 07:00:01"),
    (2L, "b", 100L, "2024-03-05 07:00:02"),
    (3L, "a", 20L, "2024-03-05 07:00:03"),
    (4L, "a", 30L, "2024-03-05 07:00:03"),
    (5L, "b", 200L, "2024-03-05 07:00:04"))
    .toDF("event_id", "k", "v", "t")
    .withColumn("ts", to_timestamp(col("t"))).drop("t")

  test("accumulate: running sum per key in (ts, event_id) order") {
    val out = HumioQuery.run(seqDf,
      "accumulate(field=v, function=sum, by=k, as=run) | select(event_id, run) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 10L, 2L -> 100L, 3L -> 30L, 4L -> 60L, 5L -> 300L))
  }

  test("accumulate: keyless form runs over the whole sequence") {
    val out = HumioQuery.run(seqDf,
      "accumulate(field=v, function=count, as=n) | select(event_id, n) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("slidingWindow: last-n-events frame per key") {
    val out = HumioQuery.run(seqDf,
      "slidingWindow(field=v, function=sum, events=2, by=k, as=w) | select(event_id, w) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    // key a: 10, 10+20, 20+30; key b: 100, 100+200
    assert(out == Map(1L -> 10L, 2L -> 100L, 3L -> 30L, 4L -> 50L, 5L -> 300L))
  }

  test("neighbor: lag per key, NULL when absent, distance respected") {
    val out = HumioQuery.run(seqDf,
      "neighbor(v, distance=1, by=k, as=prev) | select(event_id, prev) | sort(event_id)")
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(1L -> None, 2L -> None, 3L -> Some(10L),
      4L -> Some(20L), 5L -> Some(100L)))
    val d2 = HumioQuery.run(seqDf,
      "neighbor(v, distance=2, by=k) | select(event_id, _prev_v) | sort(event_id)")
      .as[(Long, Option[Long])].collect().toMap
    assert(d2 == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some(10L), 5L -> None))
  }

  test("KEYLESS sequence stages reject streams with a reasoned error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val sdf = ms.toDF().toDF("event_id", "k", "v", "ts")
      .withWatermark("ts", "1 minute")
    // keyed forms stream (HumioStreamSpec proves batch agreement); the
    // keyless forms have no per-key state to bound and must refuse
    for (q <- Seq("accumulate(field=v)", "neighbor(v)",
        "slidingWindow(field=v, events=2)")) {
      val e = intercept[IllegalArgumentException] {
        HumioQuery.run(sdf, q)
      }
      assert(e.getMessage.contains("needs by="), q)
    }
    // and a float value column refuses the streaming twin (exact-integer
    // discipline) rather than silently drifting from the batch twin
    val msF = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val fdf = msF.toDF().toDF("event_id", "k", "v", "ts")
      .withWatermark("ts", "1 minute")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(fdf, "accumulate(field=v, by=k)")
    }
    assert(e.getMessage.contains("LONG value column"))
  }

  test("partition: increments at value changes, null-safe, per key") {
    val d = Seq(
      (1L, "a", Some("x"), "2024-03-05 07:00:01"),
      (2L, "a", Some("x"), "2024-03-05 07:00:02"),   // same value — no split
      (3L, "a", Some("y"), "2024-03-05 07:00:03"),   // change → 2
      (4L, "a", None, "2024-03-05 07:00:04"),        // y → NULL is a change → 3
      (5L, "a", None, "2024-03-05 07:00:05"),        // NULL → NULL is NOT → 3
      (6L, "a", Some("y"), "2024-03-05 07:00:06"),   // NULL → y → 4
      (7L, "b", Some("x"), "2024-03-05 07:00:07"))   // other key restarts at 1
      .toDF("event_id", "k", "v", "t")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = HumioQuery.run(d,
      "partition(field=v, by=k, as=p) | select(event_id, p) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 3L, 6L -> 4L, 7L -> 1L))
  }

  test("sequence verbs match a Scala fold on randomized keys/ties/nulls") {
    val rnd = new scala.util.Random(4242)
    // 120 events over 3 keys with deliberate ts collisions (coarse
    // second resolution) and ~15% NULL values — the tie-break and
    // null conventions under fire
    val rows = (1 to 120).map { i =>
      val k = s"k${rnd.nextInt(3)}"
      val t = new java.sql.Timestamp(1700000000000L + rnd.nextInt(40) * 1000L)
      val v: Option[Long] = if (rnd.nextInt(100) < 15) None
        else Some(rnd.nextInt(1000).toLong)
      (i.toLong, k, v, t)
    }
    val d = rows.toDF("event_id", "k", "v", "ts")
    // reference order: (ts, event_id) within key
    val byKey = rows.groupBy(_._2).view.mapValues(
      _.sortBy(r => (r._4.getTime, r._1))).toMap
    def expect[A](f: Seq[(Long, String, Option[Long], java.sql.Timestamp)] => Seq[(Long, A)]) =
      byKey.values.flatMap(f).toMap

    val accRun = HumioQuery.run(d,
      "accumulate(field=v, function=sum, by=k, as=run) | select(event_id, run)")
      .as[(Long, Option[Long])].collect().toMap
    val accExp = expect { evs =>
      evs.scanLeft((0L, Option.empty[Long])) { case ((_, acc), e) =>
        (e._1, e._3.map(_ + acc.getOrElse(0L)).orElse(acc))
      }.tail.map { case (id, acc) => (id, acc) }
    }
    assert(accRun == accExp)

    val win3 = HumioQuery.run(d,
      "slidingWindow(field=v, function=max, events=3, by=k, as=w) | select(event_id, w)")
      .as[(Long, Option[Long])].collect().toMap
    val winExp = expect { evs =>
      evs.indices.map { i =>
        val frame = evs.slice(math.max(0, i - 2), i + 1).flatMap(_._3)
        (evs(i)._1, if (frame.isEmpty) None else Some(frame.max))
      }
    }
    assert(win3 == winExp)

    val lag2 = HumioQuery.run(d,
      "neighbor(v, distance=2, by=k, as=p) | select(event_id, p)")
      .as[(Long, Option[Long])].collect().toMap
    val lagExp = expect { evs =>
      evs.indices.map(i => (evs(i)._1, if (i < 2) None else evs(i - 2)._3))
    }
    assert(lag2 == lagExp)

    val part = HumioQuery.run(d,
      "partition(field=v, by=k, as=p) | select(event_id, p)")
      .as[(Long, Long)].collect().toMap
    val partExp = expect { evs =>
      evs.scanLeft((0L, Option.empty[Option[Long]], 0L)) {
        case ((_, lastV, idx), e) =>
          val ni = if (idx == 0 || !lastV.contains(e._3)) idx + 1 else idx
          (e._1, Some(e._3), ni)
      }.tail.map { case (id, _, idx) => (id, idx) }
    }
    assert(part == partExp)
  }

  test("series: ordered per-key timeline keeps repeats, honors limit/sep") {
    val out = HumioQuery.run(seqDf,
      "series(field=v, by=k, as=tl) | sort(k)")
      .as[(String, String)].collect().toMap
    // key a: 10, then the same-ts pair (20, 30) ordered by event_id
    assert(out == Map("a" -> "10 20 30", "b" -> "100 200"))
    val lim = HumioQuery.run(seqDf,
      "series(field=v, by=k, limit=2, sep=\",\", as=tl) | sort(k)")
      .as[(String, String)].collect().toMap
    assert(lim == Map("a" -> "10,20", "b" -> "100,200"))
    // streaming reject: unwindowed aggregate never emits in append mode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val sdf = ms.toDF().toDF("event_id", "k", "v", "ts")
      .withWatermark("ts", "1 minute")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(sdf, "series(field=v, by=k)")
    }
    assert(e.getMessage.contains("batch aggregate"))
  }

  test("slidingTimeWindow: trailing span frame, equal-ts peers share it") {
    // key a: events at :01, :03, :03 (tie), key b at :02, :04 — a 2s
    // trailing span covers [t-1999ms, t]
    val out = HumioQuery.run(seqDf,
      "slidingTimeWindow(field=v, span=2s, function=sum, by=k, as=w) " +
        "| select(event_id, w) | sort(event_id)")
      .as[(Long, Long)].collect().toMap
    // e1: just 10. e3/e4 are ts PEERS — both frames are [:01.001, :03],
    // e1 (exactly 2s back) falls outside → both see 20+30 = 50. e2:
    // 100. e5 at :04: frame [:02.001, :04] excludes e2 at :02 → 200.
    assert(out == Map(1L -> 10L, 2L -> 100L, 3L -> 50L, 4L -> 50L, 5L -> 200L))
    // streaming rejection is reasoned
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val sdf = ms.toDF().toDF("event_id", "k", "v", "ts")
      .withWatermark("ts", "1 minute")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(sdf, "slidingTimeWindow(field=v, span=2s, by=k)")
    }
    assert(e.getMessage.contains("traffic-bound"))
  }

  test("top(rest=) folds the remainder into one labeled row, or omits it") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, "c"), (7L, "d")).toDF("event_id", "event_type")
    val out = HumioQuery.run(d, "top(event_type, limit=2, rest=other)")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 3L), ("b", 2L), ("other", 2L)))
    // no remainder → no rest row
    val all = HumioQuery.run(d, "top(event_type, limit=10, rest=other)")
      .as[(String, Long)].collect().toSeq
    assert(all.map(_._1).sorted == Seq("a", "b", "c", "d"))
    // percent form: shares still sum over the PRE-limit total
    val pct = HumioQuery.run(d, "top(event_type, limit=2, rest=other, percent=true)")
      .as[(String, Long, Double)].collect().toSeq
    assert(math.abs(pct.map(_._3).sum - 100.0) < 0.01)
  }

  test("fieldstats: per-field presence and exact cardinality") {
    val d = Seq((1L, "a", Some(1.5)), (2L, "a", None), (3L, "b", Some(1.5)))
      .toDF("event_id", "t", "v")
    val out = HumioQuery.run(d, "fieldstats() | sort(field)")
      .as[(String, Long, Long)].collect().toSeq
    // n counts NON-NULL per field; n_distinct is exact over non-nulls
    assert(out == Seq(("event_id", 3L, 3L), ("t", 3L, 2L), ("v", 2L, 1L)))
  }

  test("bitfield: low bits decode to truthiness flags that compose") {
    val t = Seq((1L, 5L), (2L, 2L), (3L, 7L)).toDF("event_id", "n")
    val out = HumioQuery.run(t,
      "bitfield(n, flags=[b0, b1, b2]) | select(event_id, b0, b1, b2) | sort(event_id)")
      .as[(Long, String, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "true", "false", "true"),     // 5 = 101
      (2L, "false", "true", "false"),    // 2 = 010
      (3L, "true", "true", "true")))     // 7 = 111
    // flags compose with downstream filters via string truthiness
    assert(HumioQuery.run(t,
      "bitfield(n, flags=[b0]) | b0 = true").count() == 2)
  }

  test("plan memo: identical rows memo-on vs memo-off, Dataset reused on hit") {
    val q = "event_type != error | groupBy(event_type) | sort(event_type)"
    val off = HumioQuery.run(df, q).collect().toSeq
    assert(!(HumioQuery.run(df, q) eq HumioQuery.run(df, q)),
      "the session memo conf alone switches the plan memo: off by default")
    spark.conf.set(graft.operators.Scale.MemoConf, "true")
    try {
      val a = HumioQuery.run(df, q)
      val b = HumioQuery.run(df, q)
      assert(a eq b, "second compile of the identical pipeline must memo-hit")
      assert(a.collect().toSeq == off, "memo must not change results")
      // key sensitivity: a different query, a different input plan, and
      // different dimension tables must each MISS
      val q2 = HumioQuery.run(df, "event_type != error | groupBy(event_type) | sort(event_type) | head(1)")
      assert(!(q2 eq a))
      val otherIn = HumioQuery.run(df.where(col("event_id") > 1), q)
      assert(!(otherIn eq a))
      val dimA = Seq((100L, "gold")).toDF("cust_id", "tier")
      val dimB = Seq((100L, "lead")).toDF("cust_id", "tier")
      val mq = "match(cust, field=user_id, column=cust_id, include=[tier]) | select(event_id, tier) | sort(event_id)"
      val withA = HumioQuery.run(df, mq, Map("cust" -> dimA))
      val withB = HumioQuery.run(df, mq, Map("cust" -> dimB))
      assert(!(withA eq withB), "different dimension tables must not share")
      assert(withA.as[(Long, String)].collect().toSeq == Seq((1L, "gold")))
      assert(withB.as[(Long, String)].collect().toSeq == Seq((1L, "lead")))
      // a memo-hit is a REUSED PLAN, not a cached result: the second
      // Dataset still computes from source (same rows again)
      assert(b.collect().toSeq == off)
    } finally spark.conf.set(graft.operators.Scale.MemoConf, "false")
  }
}
