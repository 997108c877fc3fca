package graft.queries

import graft.Tables
import graft.expressions.JsonLongField
import graft.operators.Connector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3-A — connector-semantics queries over the `events` table. Each has a
  * DuckDB oracle twin in [[ConnectorQueries.oracle]]. Output columns are
  * restricted to BIGINT / DOUBLE / VARCHAR with a total ORDER BY so the
  * driver's sort-columns-then-hash compare is deterministic across engines.
  */
object ConnectorQueries {

  /** Forwarders to [[graft.functions.Det]] (the shared home — the
    * operators layer uses it too, and importing it from a queries
    * object there would invert the queries→operators layering).
    */
  def detRound4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.Det.detRound4(c)

  /** DuckDB twin of [[detRound4]]; splice into oracle SQL. */
  def detRound4Sql(e: String): String =
    graft.functions.Det.detRound4Sql(e)

  /** R3 — tolerant JSON field extraction; corrupt/missing → NULL,
    * dropped. Native parse ([[graft.expressions.JsonLongField]]): both
    * built-in JSON extractors are CodegenFallback and cost ~8 µs/row in
    * interpreted dispatch + Jackson; the native validator keeps the
    * whole projection in codegen with identical tolerant semantics.
    * One documented semantic delta vs the old get_json_object+CAST
    * form, mirroring the committed DuckDB oracle: integral STRINGS
    * still widen ("5" → 5), but non-integral NUMERICS now yield NULL
    * and drop the row ({"k": 1.5} used to string-cast to a truncated
    * 1) — a float-valued k is corrupt under this field's long schema.
    */
  def eParse(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"),
        JsonLongField.call(col("props"), lit("k")).as("k_val"))
      .where(col("k_val").isNotNull)
      .orderBy("event_id")
  }

  /** R4 — timestamp + rawstring projection (app.py:116-120). */
  def eProjectTs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("props").as("rawstring"))
      .orderBy("event_id")

  /** R5 — KV-array flatten, last-wins on duplicate keys. The KV array is
    * synthesized in-query from the row (duplicate key "et": raw then upper;
    * last must win), flattened through the real map path.
    */
  def eKvFlatten(s: SparkSession, dir: String): DataFrame = {
    // parse props ONCE via the native tolerant extractor (from_json is
    // CodegenFallback — see eParse). The fused native flatten (one
    // pass, no interpreted transform, no map builder) is evaluated once
    // per row inside whole-stage codegen: the two key extracts share it
    // via subexpression elimination, so the old one-element-array
    // explode barrier (a Generate per row just to defeat
    // CollapseProject) is gone. 1.61 -> 0.5 s warm at sf0.1.
    val kv = array(
      struct(lit("et").as("Key"), col("event_type").as("ValueString")),
      struct(lit("k").as("Key"),
        JsonLongField.call(col("props"), lit("k"))
          .cast("string").as("ValueString")),
      struct(lit("et").as("Key"), upper(col("event_type")).as("ValueString")))
    Tables.events(s, dir)
      .select(col("event_id"), Connector.kvFlattenNative(kv).as("m"))
      .select(col("event_id"), col("m")("et").as("kv_et"),
        col("m")("k").cast("bigint").as("kv_k"))
      .orderBy("event_id")
  }

  /** R6 — static-metadata enrich; event fields win on collision. */
  def eEnrich(s: SparkSession, dir: String): DataFrame = {
    Connector.lastWinPolicy(s)
    val metadata = map(lit("host"), lit("graft-host"),
                       lit("stream"), lit("graft"),
                       lit("type"), lit("meta-default"))
    val event = map(lit("type"), col("event_type"))
    Tables.events(s, dir)
      .withColumn("m", Connector.enrichMerge(metadata, event))
      .select(col("event_id"),
        col("m")("host").as("host_c"),
        col("m")("stream").as("stream_c"),
        col("m")("type").as("type_c"))
      .orderBy("event_id")
  }

  /** R7 + Humio filter surface — predicate filter, pushed to the scan. */
  def eFilter(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .where(col("event_type").isin("click", "purchase") &&
             col("value") > 50.0 && col("value") <= 500.0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value_r"))
      .orderBy("event_id")

  /** R7 — raw (no-enrich) pass-through mode (app.py:135-137): lines ship
    * verbatim — no parse, no drop of corrupt JSON, no decoration. The
    * synthesized stream plants a corrupt line every 97th event; unlike
    * [[eParse]] (the enrich path, which drops them) every non-empty line
    * survives unmodified.
    */
  def eRaw(s: SparkSession, dir: String): DataFrame = {
    val line = when(col("event_id") % 97 === 0,
        concat(lit("corrupt<"), col("event_id").cast("string"), lit(">")))
      .otherwise(concat(lit("{\"metadata\": {\"offset\": "),
        col("event_id").cast("string"), lit("}}")))
    Tables.events(s, dir)
      .select(col("event_id"),
        (col("user_id") % 4).cast("bigint").as("partition"),
        line.as("line"))
      .where(length(col("line")) > 0)                          // R2 empty drop only
      .orderBy("event_id")
  }

  /** Downstream parser-package layer (reference README.md:84-88 — the
    * repo ships an empty marketplace parser): a declarative per-event-
    * type registry promotes payload fields to typed columns under a
    * parser name; unregistered types (error, signup) pass through
    * unparsed, rawstring intact. Compiles to ONE codegen'd projection
    * ([[graft.operators.Parsers.applyRegistry]]).
    */
  def eTypedParse(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Parsers.{FieldSpec, ParserSpec}
    val registry = Seq(
      "click" -> ParserSpec("web-activity",
        Seq(FieldSpec("k_int", "$.k", "bigint"))),
      "purchase" -> ParserSpec("commerce",
        Seq(FieldSpec("k_amount", "$.k", "double"))),
      "view" -> ParserSpec("web-activity",
        Seq(FieldSpec("k_int", "$.k", "bigint"), FieldSpec("k_str", "$.k", "string"))))
    graft.operators.Parsers.applyRegistry(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("props")),
        col("event_type"), col("props"), registry)
      .select("event_id", "event_type", "parser", "parsed", "k_int", "k_amount", "k_str")
      .orderBy("event_id")
  }

  /** R9 — per-partition resume offsets (partition ≙ user_id % 4). */
  def eOffsets(s: SparkSession, dir: String): DataFrame =
    Connector.resumeOffsets(Tables.events(s, dir),
        (col("user_id") % 4).cast("bigint"), col("event_id"))
      .orderBy("partition")

  /** R8 — count-trigger batch replay: batches of 200 per partition in
    * offset order; one summary row per batch.
    */
  def eBatches(s: SparkSession, dir: String): DataFrame =
    Connector.countTriggerBatches(Tables.events(s, dir),
        (col("user_id") % 4).cast("bigint"), col("event_id"), 200)
      .groupBy("partition", "batch_id")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_id"),
        max("event_id").as("last_id"))
      .orderBy("partition", "batch_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e_parse"      -> eParse _,
    "e_project_ts" -> eProjectTs _,
    "e_kv_flatten" -> eKvFlatten _,
    "e_enrich"     -> eEnrich _,
    "e_filter"     -> eFilter _,
    "e_raw"        -> eRaw _,
    "e_typed_parse" -> eTypedParse _,
    "e_offsets"    -> eOffsets _,
    "e_batches"    -> eBatches _)

  val oracle: Map[String, String] = Map(
    "e_parse" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_val
        |FROM events WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "e_project_ts" ->
      """SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, props AS rawstring
        |FROM events ORDER BY event_id""".stripMargin,
    "e_kv_flatten" ->
      """SELECT event_id, upper(event_type) AS kv_et,
        |       CAST(props->>'$.k' AS BIGINT) AS kv_k
        |FROM events ORDER BY event_id""".stripMargin,
    "e_enrich" ->
      """SELECT event_id, 'graft-host' AS host_c, 'graft' AS stream_c,
        |       event_type AS type_c
        |FROM events ORDER BY event_id""".stripMargin,
    "e_filter" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value_r
        |FROM events
        |WHERE event_type IN ('click','purchase') AND value > 50.0 AND value <= 500.0
        |ORDER BY event_id""".stripMargin,
    "e_raw" ->
      """SELECT event_id, partition, line FROM (
        |  SELECT event_id, CAST(user_id % 4 AS BIGINT) AS partition,
        |         CASE WHEN event_id % 97 = 0
        |              THEN 'corrupt<' || CAST(event_id AS VARCHAR) || '>'
        |              ELSE '{"metadata": {"offset": ' || CAST(event_id AS VARCHAR) || '}}'
        |         END AS line
        |  FROM events)
        |WHERE length(line) > 0
        |ORDER BY event_id""".stripMargin,
    "e_typed_parse" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type IN ('click', 'view') THEN 'web-activity'
        |       WHEN event_type = 'purchase' THEN 'commerce' END AS parser,
        |  CAST(event_type IN ('click', 'view', 'purchase') AS BIGINT) AS parsed,
        |  CASE WHEN event_type IN ('click', 'view')
        |       THEN CAST(props->>'$.k' AS BIGINT) END AS k_int,
        |  CASE WHEN event_type = 'purchase'
        |       THEN CAST(props->>'$.k' AS DOUBLE) END AS k_amount,
        |  CASE WHEN event_type = 'view' THEN props->>'$.k' END AS k_str
        |FROM events ORDER BY event_id""".stripMargin,
    "e_offsets" ->
      """SELECT CAST(user_id % 4 AS BIGINT) AS partition,
        |       CAST(max(event_id) + 1 AS BIGINT) AS next_offset
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    "e_batches" ->
      """WITH numbered AS (
        |  SELECT CAST(user_id % 4 AS BIGINT) AS partition, event_id,
        |         CAST((row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1) // 200 AS BIGINT) AS batch_id
        |  FROM events)
        |SELECT partition, batch_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(event_id) AS first_id, max(event_id) AS last_id
        |FROM numbered GROUP BY partition, batch_id
        |ORDER BY partition, batch_id""".stripMargin)
}
