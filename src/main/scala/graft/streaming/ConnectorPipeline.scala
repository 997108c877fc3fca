package graft.streaming

import graft.operators.Connector
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference connector's steady-state data path (cses2humio
  * `app.py:65-216`) as a Structured Streaming pipeline:
  *
  *   source lines → tolerant parse → project → KV flatten → enrich →
  *   micro-batch trigger → bulk sink with post-success checkpointing.
  *
  * What the reference hand-rolls, the engine gets from the runtime:
  *  - per-partition threads + supervision/restart (app.py:225-241,305-326)
  *    → one task per source partition, task retry, query restart;
  *  - offset checkpoint file under a process lock (app.py:38-58)
  *    → the checkpointLocation offset WAL + commit log, crash-atomic
  *      where the reference's read-modify-write is not: [[run]] installs
  *      [[LocalCheckpointFileManager]], which writes each log file to a
  *      temp file, fsyncs it and publishes it by hard link (a second
  *      writer fails) or atomic rename. Without libhadoop, Hadoop's local
  *      file system starts `chmod`/`readlink` processes for each such
  *      write (~38 ms per file on a 4-vCPU VM, the largest fixed cost of
  *      a micro-batch). Checkpoints on other file systems are written by
  *      Spark's default manager, as before;
  *  - count-or-time flush trigger (app.py:139-144) → ProcessingTime
  *    trigger + per-batch chunking in the sink (documented deviation:
  *    Spark's trigger also fires on a quiet stream, strictly better than
  *    the reference's flush-only-on-next-event quirk);
  *  - at-least-once delivery (checkpoint written only after sink success,
  *    app.py:151-176) → foreachBatch: a thrown sink error fails the batch
  *    before the commit log records it, so the batch replays. [[run]]
  *    posts from the batch's already-planned rows, in one job inside the
  *    micro-batch's own SQL execution: `foreachPartition` would plan a
  *    second execution (a `Row` deserializer plan, a start event carrying
  *    its plan string) and clean a new closure every batch, fixed
  *    per-batch cost that sets the connector's delivery latency.
  */
object ConnectorPipeline {

  /** The per-event transform chain (R2–R6), usable identically on batch
    * and streaming DataFrames of `value: STRING` lines. R3 drops a corrupt
    * line, and also a poison line: one whose `AuditKeyValues` holds a
    * `null` entry or an entry with a null or missing `Key`, which the R5
    * flatten rejects (its micro-batch would fail and replay it forever).
    */
  def transform(lines: DataFrame, host: String, streamId: String): DataFrame = {
    val spark = lines.sparkSession
    Connector.lastWinPolicy(spark)
    // the parse is a Generate output (one row per line), so the optimizer
    // cannot push the R3 filter below it and re-parse there: each line is
    // parsed exactly once, by the native envelope parser, inside the same
    // whole-stage codegen stage as the payload projection
    val kv = col("parsed.event.AuditKeyValues")
    val parsed = lines
      .where(nonEmpty(col("value")))                         // R2 empty-line drop
      .select(col("value"),
        explode(array(Connector.parseLineNative(col("value")))).as("parsed"))
      .where(col("parsed.metadata").isNotNull &&             // R3 corrupt drop,
        Connector.kvKeyed(kv))                               // poison KV lines too
    parsed.select(
      col("parsed.metadata.eventCreationTime").as("timestamp"), // R4
      col("value").as("rawstring"),                             // R4
      col("parsed.metadata.offset").as("offset"),
      lit(host).as("host"),                                     // R6
      lit(streamId).as("stream"),                               // R6
      when(kv.isNotNull,
        Connector.kvFlattenNative(kv)).otherwise(map())
        .as("event_fields"))                                    // R5
  }

  /** R2's empty-line test on the byte length: `length` counts characters,
    * which walks every byte of each line only to compare with zero.
    */
  private def nonEmpty(line: Column): Column = octet_length(line) > 0

  /** R7 — the no-enrich ("raw") data path (app.py:135-137): non-empty
    * lines ship UNDECORATED — no parse, no projection, no flatten, no
    * metadata; corrupt JSON passes through too (nothing ever parses it).
    * Offset progress comes from the source's offset WAL, mirroring the
    * reference's parse-only-the-last-line shortcut (app.py:147-149) —
    * both avoid per-event parsing on this path.
    */
  def transformRaw(lines: DataFrame): DataFrame =
    lines.where(nonEmpty(col("value"))).select(col("value"))

  /** Normalized option map for [[fromKafka]]: brokers + topic with the
    * connector-shaped defaults (read from the earliest retained offset
    * on first start — resume is the checkpoint's job, mirroring the
    * reference's offset-file bootstrap; don't fail the query when
    * retention already aged out records the checkpoint still names).
    * `extra` overrides anything, including the defaults.
    *
    * failOnDataLoss=false means aged-out offsets are SKIPPED, not
    * fatal — silent data loss as a library default is a real operator
    * tradeoff, so the defaulted case logs a warning; pass it
    * explicitly in `extra` (either value) to own the choice silently.
    */
  def kafkaOptions(brokers: String, topic: String,
                   extra: Map[String, String] = Map.empty): Map[String, String] = {
    if (!extra.contains("failOnDataLoss"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "kafkaOptions defaulting failOnDataLoss=false: offsets aged out " +
          "by retention are skipped silently (the reference's offset-file " +
          "bootstrap behavior); pass failOnDataLoss explicitly to silence")
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false") ++ extra
  }

  /** Kafka line source — the third way in: yields the SAME
    * `value: STRING` relation the Falcon DSv2 source and the
    * MemoryStream test path feed into [[transform]]/[[transformRaw]],
    * so the whole downstream pipeline (parse → flatten → enrich →
    * trigger → bulk sink → checkpoint) is source-agnostic. Requires
    * the spark-sql-kafka connector on the runtime classpath (it is a
    * separate artifact, not bundled with Spark); options are the
    * standard Kafka source options ([[kafkaOptions]] builds the common
    * shape). Validation here fails fast at CONSTRUCTION with the two
    * mistakes a config can't recover from at runtime — no brokers, or
    * no topic selector.
    */
  def fromKafka(spark: SparkSession, options: Map[String, String]): DataFrame = {
    require(options.contains("kafka.bootstrap.servers"),
      "fromKafka needs kafka.bootstrap.servers (use kafkaOptions(brokers, topic))")
    require(Seq("subscribe", "subscribePattern", "assign").exists(options.contains),
      "fromKafka needs a topic selector: subscribe, subscribePattern, or assign")
    spark.readStream.format("kafka").options(options).load()
      // the Kafka wire value is bytes; the connector's line protocol is
      // UTF-8 text — one cast yields the canonical line relation
      .selectExpr("CAST(value AS STRING) AS value")
  }

  /** Bulk-delivery contract of the Humio sink (app.py:151-176). `post`
    * returns false / throws on failure; the pipeline translates that
    * into a failed micro-batch, which Structured Streaming replays —
    * the same at-least-once contract as the reference.
    */
  trait BulkSink extends Serializable {
    def post(events: Seq[String]): Boolean
    /** Called once per micro-batch ATTEMPT (driver-side, before any
      * partition posts) with the batch id — the replay signal an
      * at-least-once sink needs for idempotence: a restarted query
      * re-delivers its last uncommitted batch under the SAME id, so a
      * sink keyed by batch id can overwrite instead of double-count
      * (the reference has no such signal; its sink double-ships on
      * restart, app.py:151-176). Default: ignore.
      */
    def begin(batchId: Long): Unit = ()
  }

  /** One task of a micro-batch's delivery: posts the partition's payloads
    * (column 0) in `bulkMaxSize` chunks. A rejected post fails the task,
    * so the job, the micro-batch and its commit fail and the batch replays:
    * at-least-once, no checkpoint advance (mirror of app.py:157-162). A
    * named class, not a lambda, so the closure cleaner has no class file
    * to read for it.
    */
  private final class PostPartition(sink: BulkSink, bulkMaxSize: Int)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(context: TaskContext, rows: Iterator[InternalRow]): Unit =
      rows.map(_.getUTF8String(0).toString).grouped(bulkMaxSize).foreach { chunk =>
        if (!sink.post(chunk))
          throw new RuntimeException(s"bulk sink rejected ${chunk.size} events")
      }
  }

  /** The two Humio ingest wire shapes, selected by the enrich mode
    * (app.py:365-374): structured events vs unstructured raw messages.
    * [[body]] renders one bulk POST payload `[{<keyword>: [...]}]` —
    * enriched events are already JSON objects and embed verbatim; raw
    * lines are arbitrary strings and get JSON-escaped.
    */
  object HumioWire {
    final case class Endpoint(path: String, keyword: String)
    def endpoint(enrich: Boolean): Endpoint =
      if (enrich) Endpoint("/api/v1/ingest/humio-structured", "events")
      else Endpoint("/api/v1/ingest/humio-unstructured", "messages")

    def jsonString(s: String): String = {
      val sb = new StringBuilder(s.length + 2).append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }

    def body(enrich: Boolean, events: Seq[String]): String = {
      val rendered = if (enrich) events else events.map(jsonString)
      rendered.mkString(s"""[{"${endpoint(enrich).keyword}": [""", ", ", "]}]")
    }
  }

  /** Start the pipeline: ProcessingTime trigger ≙ flush-wait-time,
    * `bulkMaxSize` chunking inside the batch ≙ bulk-max-size. Events are
    * shipped per PARTITION (the reference's thread-per-partition), driver
    * never collects. `enrich = false` selects the raw pass-through path
    * (R7): undecorated lines, unstructured wire shape. `metadata` gates
    * the @host/@stream decoration of enriched events (`--metadata`,
    * app.py:129-132 + :364-368) — off means attributes ship undecorated.
    * Checkpoint logs are written by [[LocalCheckpointFileManager]] unless
    * the session already sets `spark.sql.streaming.checkpointFileManagerClass`.
    */
  def run(lines: DataFrame, sink: BulkSink, checkpointDir: String,
          host: String, streamId: String,
          triggerMs: Long = 10000L, bulkMaxSize: Int = 200,
          enrich: Boolean = true, metadata: Boolean = true,
          availableNow: Boolean = false): StreamingQuery = {
    LocalCheckpointFileManager.install(lines.sparkSession)
    val shippedCols =
      if (metadata) Seq(col("timestamp"), col("rawstring"), col("host"),
        col("stream"), col("event_fields"))
      else Seq(col("timestamp"), col("rawstring"), col("event_fields"))
    val staged =
      if (enrich) transform(lines, host, streamId)
        .select(to_json(struct(shippedCols: _*)).as("payload"))
      else transformRaw(lines).select(col("value").as("payload"))
    staged
      .writeStream
      .option("checkpointLocation", checkpointDir)
      // AvailableNow is the BACKFILL/DRAIN mode the reference has no
      // equivalent of: process everything currently available (offsets
      // still checkpointed per batch, at-least-once unchanged), then
      // terminate — run the connector as a scheduled job instead of a
      // resident service, resuming from the same WAL either way
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.begin(batchId)
        // one job over the batch's planned rows, inside the micro-batch's
        // own SQL execution (why not `foreachPartition`: see the object doc)
        val rows = batch.queryExecution.toRdd
        batch.sparkSession.sparkContext.runJob(rows,
          new PostPartition(sink, bulkMaxSize), rows.partitions.indices,
          (_: Int, _: Unit) => ())
      }
      .start()
  }

  /** The full production composition in ONE streaming plan: connector-
    * parsed lines queried LIVE by the pipe language — the system the
    * reference delegates to a remote Humio (`README.md:5-8`: ship
    * events, query there), collapsed into a single engine: R2–R6 parse/
    * flatten/enrich → event-time stamp from `eventCreationTime` →
    * [[graft.query.HumioQuery.runStream]]'s watermarked verb subset.
    *
    * `promote` lifts flattened `event_fields` keys to real columns so
    * DSL stages can filter/group on them (the map itself is not
    * addressable by the pipe language); the promotion is one projection
    * inside the same whole-stage codegen as the parse.
    */
  def queryStream(lines: DataFrame, query: String, host: String,
                  streamId: String, promote: Seq[String] = Nil,
                  watermark: String = "10 minutes"): DataFrame = {
    // promotion must not clobber the pipeline's own columns: a key
    // named ts/host/… would silently replace the event-time or R6
    // enrichment (withColumn overwrites) — refuse instead
    val reserved = Set("ts", "timestamp", "rawstring", "offset",
      "host", "stream", "event_fields")
    val clash = promote.filter(reserved)
    require(clash.isEmpty,
      s"queryStream: promote keys collide with pipeline columns: ${clash.mkString(", ")}")
    val parsed = transform(lines, host, streamId)
      .withColumn("ts", timestamp_millis(col("timestamp")))
      // a parsed line without a numeric eventCreationTime has no event
      // time: under a streaming aggregation a NULL ts would land in a
      // null-window state group that append mode never emits and the
      // watermark never evicts — drop such rows at the source instead
      // of leaking state forever
      .where(col("ts").isNotNull)
    val promoted = promote.foldLeft(parsed)((d, k) =>
      d.withColumn(k, col("event_fields")(k)))
    graft.query.HumioQuery.runStream(promoted, query, watermark)
  }
}
