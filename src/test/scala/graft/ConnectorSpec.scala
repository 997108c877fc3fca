package graft

import graft.expressions.{JsonLongField, JsonStrField}
import graft.operators.Connector
import graft.streaming.ConnectorPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge semantics of the connector operators, pinned to the reference
  * behaviors in SURVEY.md §2.1 (fixtures: FIXTURES.md §B1).
  */
class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  private val goodLine =
    """{"metadata": {"eventType": "UserActivityAuditEvent", "offset": 1234,
      |"eventCreationTime": 1648464000000, "version": "1.0"},
      |"event": {"UserId": "user@example.com", "OperationName": "detection_update",
      |"AuditKeyValues": [
      |  {"Key": "detection_id", "ValueString": "ldt:abc:123"},
      |  {"Key": "action", "ValueString": "update"},
      |  {"Key": "action", "ValueString": "update2"}]}}""".stripMargin.replace("\n", " ")

  test("corrupt JSON lines are dropped, not failed (app.py:106-114)") {
    val lines = Seq(goodLine, "{not json at all", "", "   garbage").toDF("value")
    val out = ConnectorPipeline.transform(lines, "h", "s").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("offset") == 1234L)
  }

  test("empty lines are dropped before parse (app.py:101-102)") {
    val lines = Seq("", goodLine).toDF("value")
    assert(ConnectorPipeline.transform(lines, "h", "s").count() == 1)
  }

  test("KV flatten is last-wins on duplicate keys (app.py:126)") {
    val out = ConnectorPipeline.transform(Seq(goodLine).toDF("value"), "h", "s")
      .select(col("event_fields")("action")).as[String].head()
    assert(out == "update2")
  }

  /** The connector transform as first declared — `from_json` in a
    * projection under the R3 filter, R5 as the `kvFlatten` lambda chain —
    * kept here as the spec the single-parse production path must equal.
    * R3 also drops a poison line: a KV array with a null entry or a null
    * `Key`, which `map_from_entries` rejects.
    */
  private def declarativeTransform(lines: DataFrame): DataFrame = {
    Connector.lastWinPolicy(spark)
    val kv = col("parsed.event.AuditKeyValues")
    val parsed = lines
      .where(length(col("value")) > 0)
      .withColumn("parsed", Connector.parseLine(col("value")))
      .where(col("parsed").isNotNull && col("parsed.metadata").isNotNull &&
        (kv.isNull || !exists(kv, e => e.isNull || e("Key").isNull)))
    parsed.select(
      col("parsed.metadata.eventCreationTime").as("timestamp"),
      col("value").as("rawstring"),
      col("parsed.metadata.offset").as("offset"),
      lit("h").as("host"),
      lit("s").as("stream"),
      when(kv.isNotNull, Connector.kvFlatten(kv)).otherwise(map())
        .as("event_fields"))
  }

  /** `transform` and its shipped `to_json` payload equal the declarative
    * spec row for row (same order, same map key order, same types), and
    * the native envelope parse equals `from_json` on every line.
    */
  private def assertMatchesSpec(lines: Seq[String]): Int = {
    val df = lines.toDF("value")
    val got = ConnectorPipeline.transform(df, "h", "s")
    val want = declarativeTransform(df)
    assert(got.schema == want.schema)
    def payload(d: DataFrame) = d.select(to_json(struct(col("timestamp"),
      col("rawstring"), col("host"), col("stream"), col("event_fields"))))
      .as[String].collect().toSeq
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, (g zip w).find(p => p._1 != p._2).toString)
    assert(payload(got) == payload(want))
    // the whole envelope, not only the projected fields, parses equal
    val unequal = FalconEnvelopeSpec.mismatches(spark, lines)
    assert(unequal.isEmpty, unequal.take(3).mkString(" | "))
    g.size
  }

  test("transform equals the declarative parse/flatten chain on edge lines") {
    val env = """{"metadata": {"offset": 5, "eventCreationTime": 1000}, "event": """
    val edge = Seq(
      "", " ", "   \t ", "garbage", "{not json", "{", "}", "null", "[]",
      "42", "\"str\"", "[1, 2]",
      goodLine.take(40), goodLine.take(goodLine.length - 1), goodLine + "}",
      """{"metadata": null, "event": {"UserId": "u"}}""",
      """{"metadata": {}, "event": {"UserId": "u"}}""",
      """{"metadata": {"offset": 9, "eventCreationTime": 2}}""",
      """{"event": {"UserId": "u"}}""",
      env + """{"AuditKeyValues": null}}""",
      env + """{"AuditKeyValues": []}}""",
      env + """{"AuditKeyValues": [{"Key": "a", "ValueString": "1"},
        |{"Key": "b", "ValueString": "2"}, {"Key": "a", "ValueString": "3"}]}}""",
      env + """{"AuditKeyValues": [{"Key": "a", "ValueString": null},
        |{"Key": "b"}, {"Key": "a", "ValueString": "x"}, {"Key": "b", "ValueString": null}]}}""",
      env + """{"AuditKeyValues": [{"Key": "n", "ValueString": 7}]}}""",
      env + """{"AuditKeyValues": "not an array"}}""",
      env + "\"not an object\"}",
      env + """{"UserId": {"nested": 1}}}""",
      """{"metadata": {"offset": 3, "eventCreationTime": "1648464000000"}, "event": {}}""",
      """{"metadata": {"offset": 3, "eventCreationTime": "soon"}, "event": {}}""",
      """{"metadata": {"offset": "x", "eventCreationTime": 1}, "event": {}}""",
      """{"metadata": {"offset": 1.5, "eventCreationTime": 1}, "event": {}}""",
      """{'metadata': {'offset': 4, 'eventCreationTime': 1}, 'event': {}}""",
      """[{"metadata": {"offset": 6, "eventCreationTime": 1}, "event": {}}]""",
      goodLine).map(_.stripMargin.replace("\n", " "))
    // the good line, the envelope variants and the typed-field cases
    // survive; empty, blank, garbage and truncated lines are dropped
    assert(assertMatchesSpec(edge) > 10)
    // a KV entry without a Key, or a null entry, is a poison line: it
    // is dropped as corrupt on both paths
    val poison = Seq("""[{"ValueString": "x"}]""", "[null]",
      """[{"Key": null, "ValueString": "x"}]""",
      """[{"Key": "a", "ValueString": "1"}, null]""")
      .map(kv => env + s"""{"AuditKeyValues": $kv}}""")
    assert(assertMatchesSpec(poison) == 0)
    assert(assertMatchesSpec(poison :+ goodLine) == 1)
  }

  test("transform equals the declarative chain on seeded random envelopes") {
    val rnd = new scala.util.Random(20261017)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def str(): String = "\"" + pick("a", "b", "c", "k1", "détail", "x y", "") + "\""
    def kv(): String = {
      val fields = Seq(
        Some("\"Key\": " + str()),
        pick(Some("\"ValueString\": " + pick(str(), "null", "12")), None))
      "{" + rnd.shuffle(fields.flatten).mkString(", ") + "}"
    }
    def envelope(): String = {
      val meta = pick(
        s"""{"offset": ${rnd.nextInt(100000)}, "eventCreationTime": ${1648464000000L + rnd.nextInt(1000000)}, "eventType": "T"}""",
        s"""{"offset": ${rnd.nextInt(100)}, "eventCreationTime": "${rnd.nextInt(100)}"}""",
        s"""{"eventCreationTime": ${rnd.nextInt(100)}}""",
        "null", "{}")
      val kvs = pick(
        "null", "[]",
        Seq.fill(1 + rnd.nextInt(6))(kv()).mkString("[", ", ", "]"))
      val event = pick(
        s"""{"UserId": ${str()}, "OperationName": ${str()}, "AuditKeyValues": $kvs}""",
        s"""{"AuditKeyValues": $kvs}""",
        s"""{"UserId": ${str()}}""",
        "null")
      val body = pick(
        s"""{"metadata": $meta, "event": $event}""",
        s"""{"event": $event, "metadata": $meta}""",
        s"""{"metadata": $meta}""")
      rnd.nextInt(20) match {
        case 0 => ""
        case 1 => body.take(rnd.nextInt(body.length))   // truncated
        case 2 => "  "
        case _ => body
      }
    }
    val lines = Seq.fill(3000)(envelope())
    val kept = assertMatchesSpec(lines)
    assert(kept > 1000 && kept < lines.size)
  }

  test("KvLastWinMap native equals map_from_entries under LAST_WIN") {
    Connector.lastWinPolicy(spark)
    // duplicate keys (first position, last value), NULL values kept,
    // empty array, many keys — against the declarative form
    val kvs: Seq[Seq[(String, String)]] = Seq(
      Seq("a" -> "1", "b" -> "2", "a" -> "3"),
      Seq("a" -> "1", "a" -> null, "b" -> "x", "c" -> "y", "b" -> "z"),
      Seq(),
      Seq("k" -> null),
      (0 until 20).map(i => s"k${i % 7}" -> s"v$i"))
    val df = kvs.zipWithIndex
      .map { case (kv, i) => (i.toLong, kv) }
      .toDF("id", "kv")
      .select(col("id"), col("kv").cast(
        "array<struct<Key:string,ValueString:string>>").as("kv"))
    val native = df.select(col("id"), Connector.kvFlattenNative(col("kv")).as("m"))
      .as[(Long, Map[String, String])].collect().toMap
    val hof = df.select(col("id"), Connector.kvFlatten(col("kv")).as("m"))
      .as[(Long, Map[String, String])].collect().toMap
    assert(native == hof)
    // key ORDER also matches (first-occurrence position)
    val nk = df.select(col("id"), map_keys(Connector.kvFlattenNative(col("kv"))).as("k"))
      .as[(Long, Seq[String])].collect().toMap
    val hk = df.select(col("id"), map_keys(Connector.kvFlatten(col("kv"))).as("k"))
      .as[(Long, Seq[String])].collect().toMap
    assert(nk == hk)
    // NULL array → NULL map, like map_from_entries
    val nullArr = Seq(1).toDF("id").select(Connector.kvFlattenNative(
      lit(null).cast("array<struct<Key:string,ValueString:string>>")).as("m"))
    assert(nullArr.collect().head.isNullAt(0))
  }

  test("KvKeyed equals the exists-lambda poison rule, compiled and interpreted") {
    val kvType = "array<struct<Key:string,ValueString:string>>"
    val kvs = Seq("null", "[]", """[{"Key": "a", "ValueString": null}]""",
      """[{"Key": "a"}, {"Key": "b", "ValueString": "2"}]""", "[null]",
      """[{"ValueString": "x"}]""", """[{"Key": "a"}, {"Key": null}]""",
      """[{"Key": "a"}, null]""")
    // repartition: keeps the optimizer from folding the projection over
    // the local rows, so the codegen path really runs
    val df = kvs.toDF("j").repartition(1)
      .select(from_json(col("j"), lit(kvType)).as("kv"))
    val want = Seq(true, true, true, true, false, false, false, false)
    val rule = col("kv").isNull || !exists(col("kv"), e => e.isNull || e("Key").isNull)
    assert(df.select(rule).as[Boolean].collect().toSeq == want)
    for (codegen <- Seq("true", "false")) {
      withSQLConf("spark.sql.codegen.wholeStage" -> codegen,
        "spark.sql.codegen.factoryMode" -> (if (codegen == "true") "CODEGEN_ONLY" else "NO_CODEGEN")) {
        assert(df.select(Connector.kvKeyed(col("kv"))).as[Boolean].collect().toSeq == want,
          s"wholeStage=$codegen")
      }
    }
  }

  private def withSQLConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("JsonLongField native equals from_json tolerant long extraction") {
    val docs = Seq(
      """{"k": 76}""", """{"k":-5}""", """{"k": 0}""",
      """  {  "k" : 123 }  """,                       // whitespace
      """{"j": 1}""",                                 // key absent
      """{"k": 1.5}""", """{"k": 1e3}""",             // non-integral
      """{"k": true}""", """{"k": null}""",           // non-number
      """{"k": 99999999999999999999}""",              // overflow
      """{"k": 007}""",                               // leading zeros = corrupt
      """{"k": 1,}""", """{"k" 1}""", """not json""", // malformed
      """{"k": 1} trailing""",                        // trailing tolerated (=1)
      """{"a": {"k": 9}, "b": [{"k": 8}]}""",         // nested k ignored
      """{"a": "\"k\": 7"}""",                        // k inside a string
      """{"a": [1, [2, {"b": "}"}]], "k": 42}""",     // deep nesting
      """{"k": 1, "k": 2}""",                         // duplicate: last wins
      """{"k": 1.5, "k": 2}""",                       // failed occ skipped = 2
      """{"k": null, "k": 2}""",                      // null then valid = 2
      """{"k": 2, "k": 1.5}""",                       // failed occ keeps prev = 2
      """{"k": 2, "k": null}""",                      // explicit null overwrites
      """[{"k": 5}, {"k": 6}]""",                     // array root = null
      """[1, {"k": 3}]""",                            // array root = null
      "", "{}", "[1,2]", "[]")                        // other roots
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "props")
    def extract(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("v")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val native = extract(JsonLongField.call(col("props"), lit("k")))
    val builtin = extract(from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k"))
    assert(native == builtin,
      (native.toSeq.sortBy(_._1) zip builtin.toSeq.sortBy(_._1))
        .filter(p => p._1 != p._2).toString)
    assert(native(0L) == 76L && native(17L) == 42L && native(18L) == 2L)
    assert(native(4L) == null && native(16L) == null)
    assert(native(19L) == 2L, "failed occurrence is skipped, later valid wins")
    assert(native(20L) == 2L, "a JSON-null occurrence does not corrupt")
    assert(native(21L) == 2L, "failed occurrence keeps the previous value")
    assert(native(22L) == null, "explicit JSON null overwrites")
    assert(native(23L) == null && native(24L) == null, "array roots are NULL")
    // the ONE deliberate widening vs from_json: integral STRING values
    // coerce (the get_json_object + CAST semantics of the committed
    // DuckDB oracle); non-integral strings still poison
    val widened = extract(JsonLongField.call(lit("""{"k": "12"}"""), lit("k")))
    assert(widened.values.head == 12L)
    val widenedNeg = extract(JsonLongField.call(lit("""{"k": " -7 "}"""), lit("k")))
    assert(widenedNeg.values.head == -7L)
    val badStr = extract(JsonLongField.call(lit("""{"k": "x12"}"""), lit("k")))
    assert(badStr.values.head == null)
    // unicode escape hex must be ASCII hex (Jackson parity): an
    // Arabic-Indic digit in \u makes the document malformed
    val badHex = extract(JsonLongField.call(lit("{\"k\": 5, \"s\": \"\\u0\u0663zz\"}"), lit("k")))
    assert(badHex.values.head == null)
  }

  test("JsonStrField native equals from_json string-form extraction") {
    val docs = Seq(
      """{"k": 76}""",                                // number -> literal text
      """{"k": -1.5e3}""",                            // float text preserved
      """{"k": "hello world"}""",                     // string -> decoded
      """{"k": "a\"b\\cA"}""",                   // escapes decoded
      """{"k": true}""", """{"k": false}""",          // bool -> text
      """{"k": null}""",                              // null -> NULL
      """{"j": 1}""",                                 // absent -> NULL
      """{"k": "x", "k": "y"}""",                     // duplicate: last wins
      """{"a": {"k": "no"}, "k": "yes"}""",           // nested ignored
      """not json""", "", "[1]", "{bad")              // corrupt -> NULL
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "props")
    def extract(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("v")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    val native = extract(JsonStrField.call(col("props"), lit("k")))
    val builtin = extract(from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k STRING"))("k"))
    assert(native == builtin,
      (native.toSeq.sortBy(_._1) zip builtin.toSeq.sortBy(_._1))
        .filter(p => p._1 != p._2).toString)
    assert(native(0L) == "76" && native(1L) == "-1500.0")
    assert(native(2L) == "hello world" && native(3L) == "a\"b\\cA")
    assert(native(8L) == "y")
    // compact object/array values round-trip as their source span (the
    // documented raw-span behavior; matches from_json on compact input)
    val obj = extract(JsonStrField.call(lit("""{"k":{"a":1},"j":2}"""), lit("k")))
    assert(obj.values.head == """{"a":1}""")
  }

  test("JSON natives honor from_json's single-quote leniency and depth bound") {
    // Spark's JSON options default allowSingleQuotes=true — pin the
    // native parsers against from_json on single-quoted docs
    val docs = Seq(
      """{'k': 5}""",                    // single-quoted key
      """{'k': 'five'}""",              // single-quoted value
      """{"k": 'mix"ed'}""",            // raw double quote inside single
      """{'k': 'don\'t'}""",            // escaped single quote
      """{'j': [1, {'a': 'b'}], 'k': 9}""")  // nested single-quoted elsewhere
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "props")
    def both(schema: String) = {
      val nat = if (schema == "k BIGINT") JsonLongField else JsonStrField
      df.select(col("id"),
          nat.call(col("props"), lit("k")).as("n"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL(schema))("k").as("r"))
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
    }
    for (row <- both("k STRING"))
      assert(row._2 == row._3, s"string form diverged on doc ${row._1}: $row")
    for (row <- both("k BIGINT"))
      assert(row._2 == row._3, s"long form diverged on doc ${row._1}: $row")
    // nesting depth: 1000-deep is malformed → NULL (Jackson's
    // StreamReadConstraints), NOT a StackOverflowError
    val deep = "[" * 5000 + "]" * 5000
    val deepDoc = s"""{"k": $deep}"""
    val d = Seq((1L, deepDoc)).toDF("id", "props")
    val out = d.select(
      JsonStrField.call(col("props"), lit("k")).as("a"),
      JsonLongField.call(col("props"), lit("k")).as("b"))
      .collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("parseJson rejects nested paths at plan time") {
    import graft.query.HumioQuery
    val ev = Seq((1L, """{"a": {"b": 2}}""")).toDF("event_id", "props")
    val e = intercept[IllegalArgumentException] {
      HumioQuery.run(ev, "parseJson(props, a.b)")
    }
    assert(e.getMessage.contains("top-level"))
  }

  test("JSON natives match from_json on randomized documents (property)") {
    val rnd = new scala.util.Random(97)
    def randString(): String = {
      val chars = "abzAZ09 _-!?/\\\"\n\té世"
      (0 until rnd.nextInt(8)).map(_ => chars(rnd.nextInt(chars.length))).mkString
    }
    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def randValue(depth: Int): String = rnd.nextInt(if (depth > 2) 6 else 8) match {
      case 0 => rnd.nextInt(2000000).toString
      case 1 => (rnd.nextDouble() * 100 - 50).toString
      case 2 => jsonStr(randString())
      case 3 => "true"
      case 4 => "false"
      case 5 => "null"
      case 6 => "[" + Seq.fill(rnd.nextInt(3))(randValue(depth + 1)).mkString(",") + "]"
      case 7 => "{" + Seq.fill(rnd.nextInt(3))(
        jsonStr(randString()) + ":" + randValue(depth + 1)).mkString(",") + "}"
    }
    def randDoc(): String = {
      val fields = Seq.fill(rnd.nextInt(5))(
        (if (rnd.nextInt(3) == 0) "\"k\"" else jsonStr(randString())) +
          ": " + randValue(0))
      "{" + fields.mkString(", ") + "}"
    }
    val docs = (0 until 400).map(i => (i.toLong, randDoc()))
    val df = docs.toDF("id", "props")
    def cmp(nat: org.apache.spark.sql.Column, ref: org.apache.spark.sql.Column,
            label: String): Unit = {
      val rows = df.select(col("id"), nat.as("n"), ref.as("r")).collect()
      val bad = rows.filter(r => (r.isNullAt(1) != r.isNullAt(2)) ||
        (!r.isNullAt(1) && r.get(1) != r.get(2)))
      assert(bad.isEmpty, s"$label diverged on: " + bad.take(3).map(r =>
        docs(r.getLong(0).toInt)._2 + s" -> native=${r.get(1)} builtin=${r.get(2)}")
        .mkString(" | "))
    }
    // long form: exclude the documented string-coercion widening by
    // comparing only where the ref is non-null OR the native is null
    // (a native value with a null ref must be a string coercion)
    val longRows = df.select(col("id"),
        JsonLongField.call(col("props"), lit("k")).as("n"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k").as("r"))
      .collect()
    val longBad = longRows.filter { r =>
      if (r.isNullAt(1)) !r.isNullAt(2)          // native null, ref value = bug
      else if (!r.isNullAt(2)) r.getLong(1) != r.getLong(2)
      else {
        // native-only value must be the documented integral-string case
        val doc = docs(r.getLong(0).toInt)._2
        !doc.contains("\"k\"") || !doc.contains("\"")
      }
    }
    assert(longBad.isEmpty, "long form diverged on: " + longBad.take(3).map(r =>
      docs(r.getLong(0).toInt)._2).mkString(" | "))
    cmp(JsonStrField.call(col("props"), lit("k")),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k STRING"))("k"),
      "string form")
  }

  test("flatten without AuditKeyValues is a no-op, not a null (app.py:123-124)") {
    val noKv = """{"metadata": {"offset": 7, "eventCreationTime": 1}, "event": {"UserId": "x"}}"""
    val out = ConnectorPipeline.transform(Seq(noKv).toDF("value"), "h", "s")
      .select(size(col("event_fields"))).as[Int].head()
    assert(out == 0)
  }

  test("enrich merge: event fields win over metadata on collision (app.py:130)") {
    Connector.lastWinPolicy(spark)
    val df = Seq(1).toDF("x").select(
      Connector.enrichMerge(
        map(lit("type"), lit("meta"), lit("host"), lit("h")),
        map(lit("type"), lit("event-wins")))("type").as("t"))
    assert(df.as[String].head() == "event-wins")
  }

  test("resume offset is max(offset)+1 per partition (app.py:145-149)") {
    val df = Seq((0L, 10L), (0L, 42L), (1L, 7L)).toDF("part", "off")
    val out = Connector.resumeOffsets(df, col("part"), col("off"))
      .orderBy("partition").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 43L), (1L, 8L)))
  }

  test("count-trigger batches cut every bulkMaxSize rows in offset order (app.py:139-144)") {
    val df = (1L to 450L).map(i => (0L, i)).toDF("part", "off")
    val out = Connector.countTriggerBatches(df, col("part"), col("off"), 200)
      .groupBy("batch_id").count().orderBy("batch_id")
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 200L), (1L, 200L), (2L, 50L)))
  }

  test("parser registry promotes typed fields per event type; unregistered pass through") {
    import graft.operators.Parsers
    import graft.operators.Parsers.{FieldSpec, ParserSpec}
    val df = Seq(
      (1L, "click", """{"k": 7}"""), (2L, "purchase", """{"k": 3}"""),
      (3L, "weird", """{"k": 9}"""), (4L, "click", "not json"))
      .toDF("event_id", "event_type", "props")
    val registry = Seq(
      "click" -> ParserSpec("web", Seq(FieldSpec("k_int", "$.k", "bigint"))),
      "purchase" -> ParserSpec("buy",
        Seq(FieldSpec("k_int", "$.k", "bigint"), FieldSpec("k_str", "$.k", "string"))))
    val out = Parsers.applyRegistry(df, col("event_type"), col("props"), registry)
      .orderBy("event_id")
      .select("event_id", "parser", "parsed", "k_int", "k_str")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getAs[String]("parser"),
      r.getLong(2))).toSeq ==
      Seq((1L, "web", 1L), (2L, "buy", 1L), (3L, null, 0L), (4L, "web", 1L)))
    assert(out(0).getAs[Long]("k_int") == 7L && out(0).isNullAt(4))
    assert(out(1).getAs[Long]("k_int") == 3L && out(1).getAs[String]("k_str") == "3")
    // unregistered type: present, unparsed, all promoted fields NULL
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
    // corrupt payload of a registered type: parsed (parser matched) but
    // the promoted field is NULL — tolerant parse, never a dropped event
    assert(out(3).isNullAt(3))
    // the whole registry is a projection: no exchange in the plan
    val plan = Parsers.applyRegistry(df, col("event_type"), col("props"), registry)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"registry dispatch must not shuffle:\n$plan")
  }
}
