package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct, and run feature
  * extraction and frame sampling as partition-parallel transforms over
  * them. This container ships no image/audio codecs, so payloads are
  * the document bytes and features are byte-level.
  *
  * Scale notes: binary payloads should be size-bucketed via
  * `spark.sql.files.maxPartitionBytes` so a partition of blobs fits
  * executor memory.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Wrap a text column as an opaque binary payload + metadata — the
    * ingest step a real pipeline does when reading image bytes.
    */
  def packetize(docs: DataFrame, mediaType: String): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
        lit(mediaType).as("media_type"))
      .as[MediaRow]
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Frame sampling: split a (stub) video payload into every `stride`-th
    * fixed-size frame chunk, one output row per sampled frame — the
    * batch shape (binary in → indexed binary rows out) a real
    * frame-sampler produces. flatMap keeps it partition-parallel and
    * memory-bounded: one payload's frames never materialize as a Spark
    * row array larger than the payload itself.
    */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int, stride: Int): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      m.payload.grouped(frameBytes).zipWithIndex
        .filter { case (_, idx) => idx % stride == 0 }
        .map { case (chunk, idx) => FrameRow(m.doc_id, idx, chunk) }
    }
  }

  /** Feature extraction: fixed-width histogram of byte values per doc
    * (stand-in for pixel/spectral features), as a plain DataFrame op so
    * it stays codegen'd.
    */
  def byteFeatures(media: Dataset[MediaRow], bins: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap(m => m.payload.map(b => (m.doc_id, ((b & 0xff) * bins) / 256)))
      .toDF("doc_id", "bin")
      .groupBy("doc_id", "bin").agg(count(lit(1)).as("n"))
  }
}
