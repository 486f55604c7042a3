package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, processed batch-wise in
  * `mapPartitions` (the JVM analogue of `mapInPandas` batches). The actual
  * codecs are NOT in this container, so the decode step is a clearly-marked
  * deterministic stub — the Spark-side contract (schema, partitioning,
  * batch shape, metadata propagation) is real and tested, and swapping
  * `StubCodec` for a JNI/FFI codec is a one-line change at deploy time.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte], width: Int, height: Int)
  final case class Feature(doc_id: Long, kind: String, n_bytes: Int, checksum: Long, thumb_w: Int, thumb_h: Int)

  /** Deterministic fake codec standing in for image/audio decode: derives
    * stable pseudo-features from the payload bytes. Replace with a real
    * decoder (libjpeg/ffmpeg via FFI) outside the sandbox. */
  object StubCodec {
    def checksum(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    /** "Resize": target box 64x64 preserving aspect ratio — pure geometry,
      * no pixel work (that part is the stub). */
    def thumbDims(w: Int, h: Int): (Int, Int) = {
      if (w <= 0 || h <= 0) (0, 0)
      else if (w >= h) (64, math.max(1, (64.0 * h / w).round.toInt))
      else (math.max(1, (64.0 * w / h).round.toInt), 64)
    }
  }

  /** Synthesize a deterministic media table from the documents table: the
    * text bytes stand in for an encoded payload (binary column + metadata),
    * which exercises exactly the schema and shuffle behavior a real corpus
    * would have. */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image").when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("doc_id") % 640 + 64).cast("int").as("width"),
      (col("doc_id") % 480 + 48).cast("int").as("height"),
    ).as[MediaRow]
  }

  /** Batch feature extraction over the binary column. Partition-wise
    * iteration == batch processing; no per-row task overhead, no driver
    * collect. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[Feature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (tw, th) = StubCodec.thumbDims(m.width, m.height)
        Feature(m.doc_id, m.kind, m.payload.length, StubCodec.checksum(m.payload), tw, th)
      }
    }
  }
}
