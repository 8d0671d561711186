package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash

/** Multimodal columns (LLM-pipeline family 4): image/audio/video
  * payloads ride as opaque BINARY columns with typed metadata, and
  * every per-item media op is a partition-scoped transform with
  * per-partition codec init + micro-batching — the exact shape of
  * the inference stage (Detector.scala), which is how Spark keeps
  * 100 TB of pixels out of shuffles: decode → project to metadata /
  * features early, never shuffle raw bytes (the reference drops
  * tensors right after `sess.run`, gst-detection-tf.py:288-289).
  *
  * The `Codec` seam has REAL pure-JVM implementations in
  * operators/Codecs.scala (BMP pixels, Y4M video frames, PCM WAV —
  * `AutoCodec` magic-dispatches them); `StubCodec` remains the
  * deterministic double for the DuckDB-restatable oracle path and
  * for payloads no bundled codec handles (compressed formats would
  * need a JavaCV/ffmpeg `Codec`, which drops in without touching
  * any caller).
  */
object Multimodal {

  /** One media item: payload + enough metadata to route it. */
  final case class MediaRecord(media_id: Long, kind: String, data: Array[Byte])

  /** Decoded-stream metadata (what a demuxer/decoder announces). */
  final case class DecodedMedia(
      media_id: Long, kind: String, byte_len: Int, checksum: Long,
      width: Int, height: Int, channels: Int, n_frames: Int)

  /** The codec seam. Real implementation = JavaCV/ffmpeg; init once
    * per partition (expensive native setup), decode per item. */
  trait Codec extends Serializable {
    def decode(rec: MediaRecord): DecodedMedia
  }

  /** STUB: deterministic fake decode — metadata derived from a
    * rolling hash of the payload so tests and oracles can restate
    * it. Replace with a real decoder for production. */
  object StubCodec extends Codec {
    def decode(rec: MediaRecord): DecodedMedia = {
      val fp = PolyHash.hashBytes(rec.data)
      DecodedMedia(rec.media_id, rec.kind, rec.data.length, fp,
        width = (64 + fp % 61).toInt,
        height = (64 + (fp / 61) % 53).toInt,
        channels = 3,
        n_frames = (1 + fp % 7).toInt)
    }
  }

  /** Decode stage (S2 analog): partition-scoped, codec initialized
    * once per partition, items processed in micro-batches. Narrow —
    * payload bytes never cross a partition boundary. */
  def decode(media: Dataset[MediaRecord],
      codecFactory: () => Codec = () => StubCodec,
      batchSize: Int = 64): Dataset[DecodedMedia] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[DecodedMedia]
    media.mapPartitions { it =>
      val codec = codecFactory() // once per partition ≈ native codec init
      it.grouped(batchSize).flatMap(_.map(codec.decode))
    }
  }

  /** Frame sampling: every `step`-th frame of each stream as a
    * (media_id, frame_idx, width, height) row — the 1→N generator (posexplode pattern) without
    * materializing pixels. */
  def sampleFrames(decoded: Dataset[DecodedMedia], step: Int): DataFrame =
    decoded.toDF().select(col("media_id"), col("width"), col("height"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step)))
          .as("frame_idx"))
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"))
}
