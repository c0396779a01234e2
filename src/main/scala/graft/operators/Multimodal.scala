package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (builder brief): image/audio/video as opaque
  * BINARY columns with typed metadata, decode / feature-extract /
  * resize / frame-sample as partition-batched transforms.
  *
  * [[Decoder]] is the external boundary. Real JDK-backed codecs live
  * in [[MultimodalCodecs]] (ImageIO images, RIFF/WAVE audio,
  * MJPEG-in-AVI frame sampling); [[StubDecoder]] derives
  * deterministic pseudo-content from the bytes for formats the JDK
  * cannot decode (H.264 et al. — no codec ships in this container),
  * so the Spark-side plumbing — schema, `mapPartitions` batch shape,
  * bucketed partitioning, explode of frame samples — is real and
  * tested end-to-end either way.
  *
  * Reference analog: NumPy image arrays base64-shipped to the OCR
  * worker (`utils/ocr_utils.py:60-77`, `workers/ocr_graph.py:44-58`);
  * here the bytes stay in the column and the worker comes to the
  * partition.
  */
object Multimodal {

  /** Typed media row: the engine-wide multimodal schema. */
  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),   // image|audio|video
    StructField("bytes", BinaryType),
    StructField("meta", MapType(StringType, StringType))))

  /** Decoded-image row appended by [[decodeImages]]. */
  val DecodedSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("ok", BooleanType)))

  /** External decode boundary. Implementations must be deterministic
    * per byte-content for the engine's tests. */
  trait Decoder extends Serializable {
    /** (width, height, channels) or None for undecodable bytes. */
    def imageDims(bytes: Array[Byte]): Option[(Int, Int, Int)]
    /** Sample `n` frame descriptors from a video payload. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
    /** Re-encode the image scaled to w×h; None for undecodable
      * bytes. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]]
  }

  /** One keyframe's decode job at the external frame-decode
    * boundary: exactly the row the container walks emit
    * ([[MultimodalCodecs.keyframePayloads]]). */
  case class FrameJob(mediaId: String, frameIdx: Int, codec: String,
    payload: Array[Byte])

  /** A decoded keyframe: row-major 8-bit luma plane. */
  case class GrayFrame(width: Int, height: Int, luma: Array[Byte])

  /** External FRAME-DECODE boundary (the OCR/ASR/embed/LLM shape):
    * entropy-coded bitstream decode (H.264 CABAC/CAVLC, VP9) is a
    * codec-library concern, not a query-engine concern — the
    * reference draws the same line, shelling out for page
    * rasterization before OCR (`utils/ocr_utils.py:60-77`) and
    * shipping no in-process video decoder at all. Implementations
    * return None for codecs/payloads they do not support (the row
    * is skipped, mirroring the ok=false discipline of
    * [[decodeImages]]) and must be deterministic per content for
    * the engine's tests. */
  trait FrameDecodeService extends Serializable {
    def decodeFrame(job: FrameJob): Option[GrayFrame]
  }

  /** Deterministic stand-in service: an 8×8 luma plane derived from
    * a rolling hash of the payload — a pure function of content, so
    * identical payloads land at Hamming distance 0 and the full
    * served pipeline is testable without a decoder. */
  object StubFrameDecodeService extends FrameDecodeService {
    def decodeFrame(job: FrameJob): Option[GrayFrame] = {
      if (job.payload == null || job.payload.isEmpty) return None
      var h = 99991L
      job.payload.foreach { b =>
        h = h * 6364136223846793005L + b
      }
      val luma = new Array[Byte](64)
      var i = 0
      while (i < 64) {
        h = h * 6364136223846793005L + 1442695040888963407L
        luma(i) = ((h >>> 32) & 0xff).toByte
        i += 1
      }
      Some(GrayFrame(8, 8, luma))
    }
  }

  /** Deterministic stand-in for the codec stack: dimensions derive
    * from a rolling hash of the bytes; empty payloads
    * are undecodable. Every value is a pure function of content, so
    * re-runs are idempotent. */
  object StubDecoder extends Decoder {
    private def mix(bytes: Array[Byte], seed: Long): Long = {
      var h = seed
      var i = 0
      while (i < bytes.length) {
        h = h * 6364136223846793005L + bytes(i)
        i += 1
      }
      h
    }
    def imageDims(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (bytes == null || bytes.isEmpty) None
      else {
        val h = mix(bytes, 17L)
        Some((64 + (math.abs(h) % 1920).toInt,
          64 + (math.abs(h >> 11) % 1080).toInt, 3))
      }
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      (0 until n).map(i => Array[Byte](bytes((i * 7) % bytes.length),
        bytes((i * 13) % bytes.length)))
    /** Deterministic fake: the target dims + a content hash, so the
      * output is a pure function of (bytes, w, h). */
    def resize(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      if (bytes == null || bytes.isEmpty) None
      else Some(s"resized:${w}x$h:${mix(bytes, 29L)}".getBytes("UTF-8"))
  }

  /** Decode image dimensions per partition (the codec initializes once
    * per partition, rows stream through in batches — the Spark-side
    * shape an expensive native decoder needs). */
  def decodeImages(media: DataFrame, decoder: Decoder): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(DecodedSchema)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        // decoder init happens here, once per partition
        rows.map { r =>
          val id = r.getString(0)
          val bytes = r.getAs[Array[Byte]](1)
          decoder.imageDims(bytes) match {
            case Some((w, h, c)) => Row(id, w, h, c, true)
            case None => Row(id, null, null, null, false)
          }
        }
      }(enc)
  }

  /** Perceptual hashes per image: (media_id, dhash, ok). Rows whose
    * bytes don't decode get ok=false and a null hash. */
  def imageHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("dhash", org.apache.spark.sql.types.LongType),
      StructField("ok", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          MultimodalCodecs.dHash64(r.getAs[Array[Byte]](1)) match {
            case Some(hs) => Row(r.getString(0), hs, true)
            case None => Row(r.getString(0), null, false)
          }
        }
      }(enc)
  }

  /** Near-duplicate IMAGE mining: dHash per image, then the banded
    * Hamming join ([[Dedup.hashNearDups]] — same pigeonhole scale
    * path as text simhash; never an all-pairs scan). Returns
    * (id_a, id_b, hamming) for decodable pairs within `maxHamming`.
    * The LAION-class image-dedup step of a multimodal training
    * pipeline. */
  def imageNearDups(media: DataFrame, bands: Int = 8,
      maxHamming: Int = 7): DataFrame =
    Dedup.hashNearDups(
      imageHashes(media).filter(col("ok")).select(col("media_id"),
        col("dhash")),
      "media_id", "dhash", bits = 64, bands = bands,
      maxHamming = maxHamming)

  /** End-to-end VIDEO-frame near-dup mining: sample keyframes from
    * every video container whose frames decode locally (MJPEG-AVI
    * today — MP4/MKV keyframe PAYLOADS extract but their H.264/VP9
    * bytes stay opaque behind the declared codec service boundary),
    * dHash64 each decoded frame, and run the banded Hamming join.
    * Output (id_a, id_b, hamming) over "mediaId#frameIndex" ids —
    * catches the same shot re-cut into another file, the video leg
    * of LAION-class dedup. Scale shape: frame explode (bounded by
    * framesPerVideo) → 8-byte hash per frame → the same banded join
    * as text simhash; never an all-pairs frame scan. */
  def videoFrameNearDups(media: DataFrame, decoder: Decoder,
      framesPerVideo: Int = 8, bands: Int = 8,
      maxHamming: Int = 7): DataFrame = {
    val frames = sampleFrames(media, decoder, framesPerVideo)
      .select(
        concat(col("media_id"), lit("#"), col("frame_index"))
          .as("media_id"),
        col("frame_bytes").as("bytes"))
    imageNearDups(frames, bands, maxHamming)
  }

  /** Codec-tagged keyframe payloads per video: (media_id, frame_idx,
    * codec, payload) — the container walks' output in the exact row
    * shape the [[FrameDecodeService]] boundary consumes. Bounded
    * explode (≤ framesPerVideo rows per video). */
  def videoKeyframePayloads(media: DataFrame,
      framesPerVideo: Int = 8): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("codec", StringType, nullable = false),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          MultimodalCodecs.keyframePayloads(
            r.getAs[Array[Byte]](1), framesPerVideo)
            .map { case (i, c, p) => Row(r.getString(0), i, c, p) }
        }
      }(enc)
  }

  /** VIDEO-frame near-dup mining ACROSS the frame-decode boundary:
    * keyframes whose payloads decode locally (MJPEG / anything
    * ImageIO reads) dHash in-process; H.264/VP9-class payloads route
    * through the [[FrameDecodeService]] and their returned luma
    * planes hash with [[MultimodalCodecs.dHash64Gray]] — ONE
    * comparable 64-bit hash space either way, then the same banded
    * Hamming join as [[videoFrameNearDups]]. Frames the service
    * declines (None) drop, mirroring the ok=false discipline.
    *
    * Scale shape: the service client initializes once per partition
    * and is called once per sampled keyframe (bounded by
    * framesPerVideo); everything after the 8-byte hash is the
    * text-simhash scale path — never an all-pairs frame scan. */
  def videoFrameNearDupsServed(media: DataFrame,
      service: FrameDecodeService, framesPerVideo: Int = 8,
      bands: Int = 8, maxHamming: Int = 7): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("dhash", org.apache.spark.sql.types.LongType,
        nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val hashes = videoKeyframePayloads(media, framesPerVideo)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getString(0)
          val idx = r.getInt(1)
          val codec = r.getString(2)
          val payload = r.getAs[Array[Byte]](3)
          val local = MultimodalCodecs.dHash64(payload)
          val hash = local.orElse {
            service.decodeFrame(FrameJob(id, idx, codec, payload))
              .flatMap(g => MultimodalCodecs.dHash64Gray(
                g.width, g.height, g.luma))
          }
          hash.map(hs => Row(s"$id#$idx", hs))
        }
      }(enc)
      // the banded join references the hash frame on BOTH sides of a
      // self-join; without a lineage cut every external decode call
      // would run once per reference — localCheckpoint pins "one
      // keyframe = one service call" (swap for reliable checkpoint
      // on a cluster, as in Graph)
      .localCheckpoint()
    Dedup.hashNearDups(hashes, "media_id", "dhash", bits = 64,
      bands = bands, maxHamming = maxHamming)
  }

  /** Near-duplicate AUDIO mining: RMS-envelope gradient hash
    * ([[MultimodalCodecs.audioHash64]]) + the same banded Hamming
    * join — catches re-encoded / re-leveled duplicates of a clip. */
  def audioNearDups(media: DataFrame, bands: Int = 8,
      maxHamming: Int = 7): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("ahash", org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val hashes = media.select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          MultimodalCodecs.audioHash64(r.getAs[Array[Byte]](1))
            .map(hs => Row(r.getString(0), hs))
        }
      }(enc)
    Dedup.hashNearDups(hashes, "media_id", "ahash", bits = 64,
      bands = bands, maxHamming = maxHamming)
  }

  /** Frame sampling: one output row per sampled frame (video → frame
    * explode, the S2/S5 page/segment-explode shape). */
  def sampleFrames(media: DataFrame, decoder: Decoder,
      n: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("frame_index", IntegerType, nullable = false),
      StructField("frame_bytes", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decoder.sampleFrames(r.getAs[Array[Byte]](1), n)
            .zipWithIndex.map { case (f, i) => Row(r.getString(0), i, f) }
        }
      }(enc)
  }

  /** Image resize: bytes in, scaled re-encoded bytes out, ok=false
    * passthrough for undecodable payloads (a vision-model preprocess
    * stage; batch shape identical to [[decodeImages]]). */
  def resizeImages(media: DataFrame, decoder: Decoder,
      w: Int, h: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("bytes", BinaryType),
      StructField("ok", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          decoder.resize(r.getAs[Array[Byte]](1), w, h) match {
            case Some(b) => Row(r.getString(0), b, true)
            case None => Row(r.getString(0), null, false)
          }
        }
      }(enc)
  }
}
