package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata. The decode step is REAL since round 5: payloads are
  * valid BMP / PCM-WAV / AVI containers and [[MediaCodec]] parses
  * width/height/duration out of the actual header bytes, with malformed
  * payloads routed to an error column instead of crashing the task. The two
  * remaining declared stand-ins, clearly scoped:
  *  - the FETCH ([[fetchMedia]]) synthesizes the container instead of
  *    reading an object store — the sandbox has no real media; everything
  *    downstream only sees `Array[Byte]`, so a real fetch is a drop-in.
  *  - the FEATURE is a byte-histogram sketch standing in for a model
  *    embedding (no inference runtime in this sandbox).
  */
object MultimodalOps {

  final case class MediaMeta(media_ref: String, modality: String, width: Int, height: Int,
      duration_ms: Int, byte_len: Int, feature: Array[Float], error: String)

  private[ops] def modalityOf(ref: String): String = {
    val h = math.abs(ref.hashCode % 3)
    if (h == 0) "image" else if (h == 1) "audio" else "video"
  }

  /** Deterministic synthetic payload for a media_ref — a VALID container
    * (BMP / WAV / AVI) whose header fields derive only from the ref, so the
    * decode stage exercises real byte-level parsing and tests stay stable.
    * Stands in for the object-store fetch (see the object Scaladoc).
    */
  def fetchMedia(mediaRef: String): Array[Byte] = {
    val h = Hashing.splitmix64(mediaRef.hashCode.toLong)
    def pick(shift: Int, mod: Int): Int = (((h >>> shift) % mod).toInt + mod) % mod
    modalityOf(mediaRef) match {
      case "image" =>
        MediaCodec.writeBmp(width = 4 + pick(3, 29), height = 4 + pick(13, 29), seed = h)
      case "audio" =>
        MediaCodec.writeWav(durationMs = 1000 + 2 * pick(7, 3500), seed = h)
      case _ =>
        MediaCodec.writeAvi(width = 16 * (1 + pick(5, 40)), height = 16 * (1 + pick(17, 30)),
          totalFrames = 30 + pick(11, 1771), usPerFrame = 33367, seed = h)
    }
  }

  /** Real decode of one payload into the metadata row: parse the container
    * headers via [[MediaCodec.decode]]; parse failures land on the `error`
    * column with zeroed metadata (the 100 TB contract: a poison row must
    * never kill the task). The feature is the declared byte-histogram
    * stand-in for a model embedding.
    */
  private[ops] def featurize(mediaRef: String, payload: Array[Byte]): MediaMeta = {
    val feat = new Array[Float](8)
    if (payload != null && payload.length > 0) {
      payload.foreach(b => feat(math.abs(b % 8)) += 1f)
      val n = payload.length.toFloat
      var i = 0
      while (i < 8) { feat(i) /= n; i += 1 }
    }
    MediaCodec.decode(payload) match {
      case Right(d) =>
        MediaMeta(mediaRef, d.modality, d.width, d.height, d.durationMs,
          if (payload == null) 0 else payload.length, feat, null)
      case Left(err) =>
        MediaMeta(mediaRef, "invalid", 0, 0, 0,
          if (payload == null) 0 else payload.length, feat, err)
    }
  }

  /** media_ref column → binary payload + typed metadata + feature vector.
    * mapPartitions keeps the codec call batched per partition (the Scala
    * analog of a mapInPandas batch), and the payload stays opaque binary so
    * Parquet encodes it untouched. The `modality` column comes from the
    * PARSED container magic, not the ref — the decode path is the source of
    * truth; `error` is null for every successfully parsed row.
    */
  def decodeAndFeaturize(mediaRefs: Dataset[String]): DataFrame = {
    val spark = mediaRefs.sparkSession
    import spark.implicits._
    mediaRefs.mapPartitions { it =>
      it.map(ref => featurize(ref, fetchMedia(ref)))
    }.toDF()
  }

  /** Resize plumbing: target dimensions preserving aspect ratio, capped at
    * `maxDim` on the long edge, never upscaled; dimensionless rows (audio —
    * width/height 0) pass through at scale 1. The pixel transform itself
    * needs a raster codec in production; the part that matters at 100 TB —
    * the metadata math staying columnar/codegen-friendly and the payload
    * column staying opaque — is real.
    */
  def resize(media: DataFrame, maxDim: Int = 256): DataFrame = {
    val longEdge = greatest(col("width"), col("height")).cast("double")
    val scale = when(longEdge > 0, least(lit(1.0), lit(maxDim.toDouble) / longEdge)).otherwise(lit(1.0))
    media.withColumn("scale", round(scale, 6))
      .withColumn("out_width", greatest(lit(1), round(col("width") * col("scale"), 0).cast("int")))
      .withColumn("out_height", greatest(lit(1), round(col("height") * col("scale"), 0).cast("int")))
  }

  /** Frame-sampling plumbing for video refs: emits (ref, frame_idx, ts_ms)
    * rows — positions deterministic from the PARSED duration.
    */
  def sampleFrames(media: DataFrame, everyMs: Int = 5000): DataFrame = {
    media.filter(col("modality") === "video")
      .withColumn("frame_ts_ms", explode(sequence(lit(0), col("duration_ms"), lit(everyMs))))
      .withColumn("frame_idx", (col("frame_ts_ms") / everyMs).cast("int"))
      .select("media_ref", "frame_idx", "frame_ts_ms", "width", "height")
  }
}
