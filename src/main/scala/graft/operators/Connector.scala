package graft.operators

import graft.expressions.{FalconEnvelope, KvKeyed, KvLastWinMap}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch re-expression of the reference connector's per-event dataflow
  * (cses2humio `app.py:65-216`) as declarative Spark transforms.
  *
  * The reference processes one JSON line at a time in Python; here every
  * step is a Catalyst expression pipeline, so the whole chain runs inside
  * whole-stage codegen over columnar parquet batches and scales out by
  * partition with zero shuffles (all ops below are narrow except the two
  * explicit aggregations, which do map-side partial aggregation first).
  *
  * Reference semantics preserved (SURVEY.md §2.1):
  *  - tolerant JSON parse: corrupt payloads become NULL and are droppable,
  *    never a task failure (app.py:106-114);
  *  - KV-array flatten is last-wins on duplicate keys (app.py:122-127);
  *  - metadata enrich: event fields win over static metadata on collision
  *    (`{**metadata, **json_event}`, app.py:129-132);
  *  - resume offset = max(offset)+1 per partition (app.py:145-149);
  *  - dual count-or-time micro-batch trigger (app.py:139-144).
  */
object Connector {

  /** Envelope schema of a Falcon-style event line (FIXTURES.md §B1). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("eventType", StringType),
      StructField("offset", LongType),
      StructField("eventCreationTime", LongType),
      StructField("version", StringType)))),
    StructField("event", StructType(Seq(
      StructField("UserId", StringType),
      StructField("OperationName", StringType),
      StructField("AuditKeyValues", ArrayType(StructType(Seq(
        StructField("Key", StringType),
        StructField("ValueString", StringType))))))))))

  /** R3 — tolerant parse of a raw JSON line column: corrupt lines yield a
    * NULL struct or one with a NULL `metadata` (Spark `from_json`
    * PERMISSIVE semantics), mirroring the reference's log-and-skip
    * (app.py:106-114). Callers filter on `parsed.metadata IS NOT NULL`
    * to reproduce the drop.
    * The declarative spec of [[parseLineNative]], which the connector runs.
    */
  def parseLine(raw: Column): Column = from_json(raw, envelopeSchema)

  /** Codegen'd twin of [[parseLine]] ([[graft.expressions.FalconEnvelope]],
    * differentially tested equal): a strict byte-level fast path builds
    * the row, and any line outside its grammar goes to `from_json`.
    */
  def parseLineNative(raw: Column): Column = FalconEnvelope.call(raw)

  /** R5 — flatten an array<struct<Key,ValueString>> into a last-wins map
    * (app.py:122-127: later duplicate keys overwrite earlier). Requires
    * spark.sql.mapKeyDedupPolicy=LAST_WIN, which [[lastWinPolicy]] sets.
    * The declarative spec of [[kvFlattenNative]], which the connector runs.
    */
  def kvFlatten(kvArray: Column): Column =
    map_from_entries(transform(kvArray, e => struct(e("Key"), e("ValueString"))))

  /** Fused one-pass twin of [[kvFlatten]]
    * ([[graft.expressions.KvLastWinMap]], differentially tested equal):
    * no interpreted transform lambda, no map builder, and cheap enough
    * that repeated key extracts dedup via codegen subexpression
    * elimination instead of needing a Generate barrier. Input must
    * already be struct<Key,ValueString> (positional).
    */
  def kvFlattenNative(kvArray: Column): Column = KvLastWinMap.call(kvArray)

  /** R3 poison-line rule: true unless the KV array holds a NULL entry or
    * an entry with a NULL or missing `Key`, which neither [[kvFlatten]]
    * nor [[kvFlattenNative]] accepts; the connector drops such a line as
    * corrupt ([[graft.expressions.KvKeyed]]).
    */
  def kvKeyed(kvArray: Column): Column = KvKeyed.call(kvArray)

  def lastWinPolicy(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

  /** R6 — merge static metadata with per-event fields; event wins on key
    * collision (app.py:130 `{**metadata, **json_event}`). Both sides as
    * maps; map_concat under LAST_WIN keeps the right operand's value.
    */
  def enrichMerge(metadata: Column, event: Column): Column =
    map_concat(metadata, event)

  /** R9 — per-partition resume offsets: next = max(offset)+1
    * (app.py:145-149). Partial (map-side) max then a single shuffle of one
    * row per partition key — at 100 TB this is bytes, not gigabytes.
    */
  def resumeOffsets(events: DataFrame, partitionExpr: Column, offsetCol: Column): DataFrame =
    events.groupBy(partitionExpr.as("partition"))
      .agg((max(offsetCol) + lit(1L)).as("next_offset"))

  /** R8 — replay of the count-trigger batch assignment: within a stream
    * partition, events are flushed in groups of `bulkMaxSize` in offset
    * order (app.py:139-144 count branch). Implemented as a window
    * row_number — one shuffle on the partition key; batches then derive
    * arithmetically (no per-batch state).
    */
  def countTriggerBatches(events: DataFrame, partitionExpr: Column,
                          offsetCol: Column, bulkMaxSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events
      .withColumn("partition", partitionExpr)
      .withColumn("batch_id", ((row_number().over(
        Window.partitionBy("partition").orderBy(offsetCol)) - 1) / bulkMaxSize)
        .cast(LongType))
  }
}
