package graft.streaming

import graft.operators.Connector
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    → the checkpointLocation offset WAL + commit log (crash-atomic,
  *      which the reference's read-modify-write is not);
  *  - count-or-time flush trigger (app.py:139-144) → ProcessingTime
  *    trigger + per-batch chunking in the sink (documented deviation:
  *    Spark's trigger also fires on a quiet stream, strictly better than
  *    the reference's flush-only-on-next-event quirk);
  *  - at-least-once delivery (checkpoint written only after sink success,
  *    app.py:151-176) → foreachBatch: a thrown sink error fails the batch
  *    before the commit log records it, so the batch replays.
  */
object ConnectorPipeline {

  /** The per-event transform chain (R2–R6), usable identically on batch
    * and streaming DataFrames of `value: STRING` lines.
    */
  def transform(lines: DataFrame, host: String, streamId: String): DataFrame = {
    Connector.lastWinPolicy(lines.sparkSession)
    graft.expressions.KvLastWinMap.register(lines.sparkSession)
    // the parse is a Generate output (one row per line), so the optimizer
    // cannot push the R3 filter below it and re-parse there: each line
    // goes through from_json exactly once
    val parsed = lines
      .where(length(col("value")) > 0)                       // R2 empty-line drop
      .select(col("value"),
        explode(array(Connector.parseLine(col("value")))).as("parsed"))
      .where(col("parsed.metadata").isNotNull)               // R3 corrupt drop
    val kv = col("parsed.event.AuditKeyValues")
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

  /** R7 — the no-enrich ("raw") data path (app.py:135-137): non-empty
    * lines ship UNDECORATED — no parse, no projection, no flatten, no
    * metadata; corrupt JSON passes through too (nothing ever parses it).
    * Offset progress comes from the source's offset WAL, mirroring the
    * reference's parse-only-the-last-line shortcut (app.py:147-149) —
    * both avoid per-event parsing on this path.
    */
  def transformRaw(lines: DataFrame): DataFrame =
    lines.where(length(col("value")) > 0).select(col("value"))

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
    */
  def run(lines: DataFrame, sink: BulkSink, checkpointDir: String,
          host: String, streamId: String,
          triggerMs: Long = 10000L, bulkMaxSize: Int = 200,
          enrich: Boolean = true, metadata: Boolean = true,
          availableNow: Boolean = false): StreamingQuery = {
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
        batch.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.map(_.getString(0)).grouped(bulkMaxSize).foreach { chunk =>
            if (!sink.post(chunk))
              // fail the task → fail the batch → replay: at-least-once,
              // no checkpoint advance (mirror of app.py:157-162)
              throw new RuntimeException(s"bulk sink rejected ${chunk.size} events")
          }
        }
        ()
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

  /** Streaming twins of the log-analytics layer: event-time tumbling
    * counts with late-data handling — `withWatermark` is the principled
    * version of the reference's wall-clock buffering.
    */
  def timechartStream(events: DataFrame, watermark: String, window: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .count()

  /** Streaming dedup within the watermark — upgrades the reference's
    * at-least-once delivery to effectively-once consumption.
    */
  def dedupStream(events: DataFrame, watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Custom per-key state via flatMapGroupsWithState — the escape hatch
    * for semantics no built-in stateful op expresses: emit EXACTLY ONE
    * alert row the moment a key's cumulative event count crosses the
    * threshold (a plain windowed count either never fires or fires every
    * batch). State is one Long per key; Update output mode.
    */
  def thresholdAlerts(keys: org.apache.spark.sql.Dataset[Long],
                      threshold: Long): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import keys.sparkSession.implicits._
    keys.groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + rows.size
          state.update(now)
          // fires exactly once per key: only on the batch that crosses
          if (prev < threshold && now >= threshold) Iterator((key, now))
          else Iterator.empty
      }
  }

  /** Streaming sessionization: native session_window grouping. */
  def sessionStream(events: DataFrame, watermark: String, gap: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
}
