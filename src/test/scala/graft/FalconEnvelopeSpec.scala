package graft

import graft.expressions.FalconEnvelope
import graft.operators.Connector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native R3 parse ([[FalconEnvelope]]) against `from_json` at the
  * boundary of its fast path: every line must parse equal, and the
  * lines the connector really sees must never leave the fast path.
  */
class FalconEnvelopeSpec extends SparkSpec {
  import FalconEnvelopeSpec._
  import spark.implicits._

  private def fast(line: String): Boolean =
    FalconEnvelope.fastPath(UTF8String.fromString(line)) != null

  test("native parse equals from_json on seeded boundary shapes, on the path each shape pins") {
    val cases = boundaryLines(20261018, 4000)
    val lines = cases.map(_._1)
    val bad = mismatches(spark, lines)
    assert(bad.isEmpty, s"${bad.length} lines parse differently, e.g. ${bad.take(3).mkString(" | ")}")
    // each shape takes the path the grammar assigns it: a fast path that
    // falls back on valid shapes, or accepts one it must not, fails here
    val wrongPath = cases.filter { case (l, wantFast) => fast(l) != wantFast }
    assert(wrongPath.isEmpty, wrongPath.take(5).map { case (l, w) =>
      s"${if (w) "fell back" else "took the fast path"}: $l" }.mkString("\n"))
    val nFast = cases.count(_._2)
    assert(nFast > 1000 && nFast < cases.size - 1000, s"$nFast of ${cases.size} fast")
  }

  test("connector-shaped lines are parsed without fallback") {
    val rnd = new scala.util.Random(7)
    // perfbench's ingest lines (valid kind) and BenchStream's lines
    val bench = Seq.fill(500)(perfbenchLine(rnd)) ++
      (0L until 200L).map(o => BenchStream.line(o, (o % 4).toInt))
    // StreamDemo's lines: to_json of event rows built the way StreamDemo
    // builds them (props is JSON text, so OperationName carries escaped
    // quotes), and the lines of its Falcon-source phase
    val demo = (1L to 200L).map(i => (s"type${i % 3}", i, i * 1000000L, s"""{"k": ${i % 97}}"""))
      .toDF("event_type", "event_id", "ts_us", "props")
      .select(to_json(struct(
        struct(col("event_type").as("eventType"), col("event_id").as("offset"),
          unix_millis(timestamp_micros(col("ts_us"))).as("eventCreationTime")).as("metadata"),
        struct(col("props").as("OperationName")).as("event"))))
      .as[String].collect().toSeq
    val falcon = (0L until 50L).map(o =>
      s"""{"metadata": {"offset": $o, "eventCreationTime": ${1648464000000L + o}, "eventType": "T"}, "event": {"UserId": "u${o % 4}"}}""")
    val lines = bench ++ demo ++ falcon
    assert(demo.head.contains("\\\""), demo.head)
    val fellBack = lines.filterNot(fast)
    assert(fellBack.isEmpty, s"${fellBack.size} fell back, e.g. ${fellBack.take(1).mkString}")
    assert(mismatches(spark, lines).isEmpty)
  }

  test("fast-path strings do not alias the input bytes") {
    val line = """{"metadata": {"eventType": "T1", "offset": 3, "eventCreationTime": 4, "version": "v"},""" +
      """ "event": {"UserId": "u", "OperationName": "op", "AuditKeyValues": [{"Key": "k", "ValueString": "a\nb"}]}}"""
    val bytes = line.getBytes("UTF-8")
    val row = FalconEnvelope.fastPath(UTF8String.fromBytes(bytes))
    assert(row != null)
    java.util.Arrays.fill(bytes, 'x'.toByte)
    val meta = row.getStruct(0, 4)
    val event = row.getStruct(1, 3)
    val kv = event.getArray(2).getStruct(0, 2)
    assert(meta.getUTF8String(0).toString == "T1" && meta.getLong(1) == 3L &&
      meta.getUTF8String(3).toString == "v")
    assert(event.getUTF8String(0).toString == "u" && event.getUTF8String(1).toString == "op")
    assert(kv.getUTF8String(0).toString == "k" && kv.getUTF8String(1).toString == "a\nb")
  }
}

object FalconEnvelopeSpec {

  /** Lines whose native parse differs from `from_json` under `<=>`. */
  def mismatches(spark: SparkSession, lines: Seq[String]): Array[String] = {
    import spark.implicits._
    val df: DataFrame = lines.toDF("value")
    df.where(!(FalconEnvelope.call(col("value")) <=>
        Connector.parseLine(col("value"))))
      .as[String].collect()
  }

  /** A valid line of perfbench's ingest workload (`Ingest.line`). */
  def perfbenchLine(rnd: scala.util.Random): String = {
    val kvs = Seq.fill(1 + rnd.nextInt(5))(
      s"""{"Key": "k${rnd.nextInt(6)}", "ValueString": "v${rnd.nextInt(1000)}"}""").mkString(", ")
    val due = 1700000000000L + rnd.nextInt(1000000)
    s"""{"metadata": {"customerIDString": "cid-${rnd.nextInt(4)}", "offset": ${rnd.nextInt(300000)}, """ +
      s""""eventType": "UserActivityAuditEvent", "eventCreationTime": $due, "version": "1.0"}, "event": {""" +
      s""""UserId": "user-${rnd.nextInt(5000)}@example.com", "UserIp": "10.0.${rnd.nextInt(256)}.1", """ +
      s""""OperationName": "createUser", "ServiceName": "svc-${rnd.nextInt(40)}", """ +
      s""""Success": ${rnd.nextBoolean()}, "UTCTimestamp": ${due / 1000}, "AuditKeyValues": [$kvs]}}"""
  }

  /** Seeded envelope lines, each paired with whether the fast path must
    * take it. A valid base varies everything the fast-path grammar
    * admits (key order, whitespace, nulls, missing and extra members,
    * unknown fields of any shape, boundary longs, simple escapes); at
    * most one perturbation then moves it outside the grammar.
    */
  def boundaryLines(seed: Long, n: Int): Seq[(String, Boolean)] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def ws(): String = pick("", " ", " ", "\t", "\n", "\r\n", "  \t")
    def obj(fields: Seq[String]): String =
      "{" + ws() + rnd.shuffle(fields).mkString(ws() + "," + ws()) + ws() + "}"
    def field(k: String, v: String): String = "\"" + k + "\"" + ws() + ":" + ws() + v
    def str(): String = "\"" + pick("a", "", "x y", "user@example.com", "q\\\"uote",
      "back\\\\slash", "line\\nbreak", "tab\\tx", "sl\\/ash", "ctl\\b\\f\\r", "~!#$%^&*()") + "\""
    def long(): String = pick(rnd.nextInt(100000).toString, "0", "-0", "-17",
      "9223372036854775807", "-9223372036854775808", "1234567890123456789",
      "1648464000000")
    def unknown(depth: Int): String = rnd.nextInt(if (depth > 3) 6 else 8) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => pick("2.5", "-1e3", "0.125E+2", "6E-1", "123456789012345678901234", "9" * 900)
      case 2 => pick("\"plain\"", "\"\\u00e9t\\u00E9\"", "\"esc\\b\\f\\r\"", "\"\"")
      case 3 => pick("true", "false")
      case 4 => "null"
      case 5 => "\"offset\""
      case 6 => "[" + Seq.fill(rnd.nextInt(3))(unknown(depth + 1)).mkString("," + ws()) + "]"
      case _ => obj(Seq.fill(rnd.nextInt(3))(
        field(pick("a", "offset", "metadata", "Key", "x"), unknown(depth + 1))))
    }
    def extras(): Seq[String] = Seq.fill(pick(0, 0, 1, 2))(
      field(pick("customerIDString", "UserIp", "Success", "x", "x", "Offset", "EVENT"), unknown(0)))
    def opt(k: String, v: => String): Seq[String] =
      pick(Seq(field(k, v)), Seq(field(k, v)), Seq(field(k, "null")), Nil)
    def kv(): String = pick(
      obj(opt("Key", str()) ++ opt("ValueString", str()) ++ extras()),
      obj(Seq(field("Key", str()), field("ValueString", str()))),
      "null")
    def metadata(): String = pick(obj(opt("eventType", str()) ++ opt("offset", long()) ++
      opt("eventCreationTime", long()) ++ opt("version", str()) ++ extras()), "null", "{}")
    def event(): String = {
      val kvs = pick("null", "[]", "[" + ws() + Seq.fill(1 + rnd.nextInt(4))(kv())
        .mkString("," + ws()) + ws() + "]")
      pick(obj(opt("UserId", str()) ++ opt("OperationName", str()) ++
        opt("AuditKeyValues", kvs) ++ extras()), "null")
    }
    def base(): String =
      ws() + obj(opt("metadata", metadata()) ++ opt("event", event()) ++ extras()) + ws()
    val valid = """{"metadata": {"offset": 5, "eventCreationTime": 1000, "eventType": "T"}, """ +
      """"event": {"UserId": "u", "AuditKeyValues": [{"Key": "k", "ValueString": "v"}]}}"""

    // each perturbation is outside the fast-path grammar
    def perturbed(): String = {
      val l = pick(base(), valid)
      def sub(from: String, to: String): String =
        if (valid.contains(from)) valid.replaceFirst(java.util.regex.Pattern.quote(from),
          java.util.regex.Matcher.quoteReplacement(to)) else sys.error(from)
      rnd.nextInt(26) match {
        case 0 => sub("\"T\"", "\"\\u0054\"")                      // \u in a value
        case 1 => sub("\"offset\"", "\"offs\\u0065t\"")            // \u in a key
        case 2 => sub("\"UserId\"", "\"User\\\"Id\"")              // escaped quote in a key
        case 3 => sub("\"u\"", pick("\"détail\"", "\"日本\""))       // non-ASCII value
        case 4 => sub("\"v\"}", "\"v\", \"x\": \"ü\"}")             // non-ASCII, unknown field
        case 5 => sub("\"offset\": 5,", "\"offset\": 5, \"offset\": 6,")  // duplicate known keys
        case 6 => sub("\"event\":", "\"event\": null, \"event\":")
        case 7 => sub("\"Key\": \"k\"", "\"Key\": \"k\", \"Key\": \"j\"")
        case 8 => sub("5", pick("007", "00", "-01"))                  // leading zeros
        case 9 => sub("1000", pick("99999999999999999999", "9223372036854775808",
          "-9223372036854775809", "12345678901234567890123"))        // overflow
        case 10 => sub("1000", pick("1.5", "1e3", "1000.0", "-2E2", "10e-1"))  // non-integers
        case 11 => sub("1000", pick("\"1000\"", "true", "{}", "[1000]"))  // wrong type in a long
        case 12 => sub("\"u\"", pick("7", "true", "false", "{\"a\": 1}", "[\"u\"]", "-1.5"))
        case 13 => sub("{\"metadata\"", "{'metadata'")               // single quotes
        case 14 => sub("\"T\"", "'T'")
        case 15 => l + pick("x", "{}", ",", " 1", "}")              // trailing content
        case 16 => sub("{\"Key\"",                                   // past the depth bound
          "{\"deep\": " + "[" * 40 + "]" * 40 + ", \"Key\"")
        case 17 => sub("\"metadata\": {", "\"metadata\": " + pick("\"m\"", "5", "[", "true") + ", \"x\": {")
        case 18 => sub("[{\"Key\"", pick("{\"a\": {\"Key\"", "[7, {\"Key\"", "[[{\"Key\""))
        case 19 => sub("\"u\"", "\"a\tb\"")                          // raw control char
        case 20 => pick("[" + valid + "]", "null", "\"" + valid + "\"", "42", "")  // non-object root
        case 21 => valid.take(1 + rnd.nextInt(valid.length - 1))      // truncated
        case 22 => sub("\"v\"", pick("\"\\x\"", "\"\\u00g1\"", "\"\\'\""))  // invalid escapes
        case 23 => sub(", \"event\"", ",, \"event\"")                 // stray comma
        case 24 => sub("\"v\"}", "\"v\", \"n\": " + "1" * 1001 + "}")  // over Jackson's number length
        case _ => sub("\"v\"}", "\"v\", \"s\": \"" + "a" * 50000 + "\"}")  // a very long line
      }
    }
    Seq.fill(n)(if (rnd.nextBoolean()) (base(), true) else (perturbed(), false))
  }
}
