package graft.operators

/** REAL multimodal codecs where the JDK has them (builder brief: the
  * container ships no native image/audio libraries, but `javax.imageio`
  * reads PNG/JPEG/BMP/GIF and RIFF/WAVE headers are plain bytes):
  *
  *  - [[JdkImageDecoder]]: ImageIO-backed dimensions and resizing.
  *  - [[WavAudio]]: RIFF/WAVE header parse (channels, rate, bits,
  *    duration) + per-bucket RMS energy features over 16-bit PCM.
  *
  *  - [[AviVideo]]: RIFF/AVI container walk + MJPEG frame sampling —
  *    the one video format that needs no codec, because each `00dc`
  *    chunk payload IS a JPEG that `javax.imageio` can decode.
  *
  *  - [[Mp4Video]] / [[MkvVideo]]: ISO BMFF and Matroska/WebM
  *    container parses — keyframe payloads located and sliced for
  *    real; the coded bitstream stays an opaque binary column (no JDK
  *    codec for H.264/VP9 et al.), so only codec-less bytes fall back
  *    to the stub boundary.
  */
object MultimodalCodecs {

  /** ImageIO-backed [[Multimodal.Decoder]]: headless-safe, covers the
    * formats the JDK ships readers for. Undecodable bytes fall back
    * to the deterministic stub so downstream shapes stay total. */
  object JdkImageDecoder extends Multimodal.Decoder {
    /** Largest raster a corpus image may decode to (≈64 MPix ≈ 256 MB
      * ARGB). Corrupt headers routinely declare absurd dimensions; an
      * unguarded `ImageIO.read` then ALLOCATES the full raster before
      * the decoder ever notices the truncated payload — multi-GB
      * zeroing + GC thrash that presents as a task hang (found by
      * ParserFuzzSpec on a bit-flipped PNG IHDR). Checking the
      * header-declared dims via `ImageReader.getWidth/getHeight`
      * BEFORE `read` costs no decode work and bounds the allocation. */
    private val MaxPixels = 64L << 20

    /** Fail-closed bounded decode: None for undecodable bytes, absurd
      * declared dimensions, or any decoder exception. */
    private[operators] def decodeBounded(
        bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val w = r.getWidth(0)
            val h = r.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) None
            else Option(r.read(0))
          } finally r.dispose()
        } finally iis.close()
      } catch { case _: Exception => None }
    }

    def imageDims(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      decodeBounded(bytes).map(img =>
        (img.getWidth, img.getHeight,
          img.getColorModel.getNumComponents))

    /** MJPEG-in-AVI sampled for real ([[AviVideo]]); MP4/MOV
      * keyframes located and extracted for real from the sample
      * tables ([[Mp4Video]]); Matroska/WebM keyframes from the
      * Cluster/SimpleBlock walk ([[MkvVideo]]) — payloads stay
      * coded/opaque, exactly the binary-column contract; anything
      * else delegates to the stub boundary. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val frames = AviVideo.sampleFrames(bytes, n)
      if (frames.nonEmpty) frames
      else {
        val mp4 = Mp4Video.sampleFrames(bytes, n)
        if (mp4.nonEmpty) mp4
        else {
          val mkv = MkvVideo.sampleFrames(bytes, n)
          if (mkv.nonEmpty) mkv
          else Multimodal.StubDecoder.sampleFrames(bytes, n)
        }
      }
    }

    /** Real scale via Graphics2D (bilinear) + PNG re-encode — PNG so
      * the resized bytes are deterministic (JPEG encoders may not
      * be bit-stable across JDKs). */
    def resize(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
      if (bytes == null || bytes.isEmpty || w <= 0 || h <= 0) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) return None
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      } catch { case _: Exception => None }
    }
  }

  /** Parsed AVI main header (`avih`). */
  case class AviInfo(width: Int, height: Int, totalFrames: Int,
      microSecPerFrame: Int) {
    def fps: Double =
      if (microSecPerFrame > 0) 1e6 / microSecPerFrame else 0.0
  }

  /** RIFF/AVI container walk over raw bytes — no library needed. AVI
    * is RIFF like WAV: `RIFF('AVI ' LIST('hdrl' avih …) LIST('movi'
    * 00dc…))`; video frame chunks are ids `NNdc`/`NNdb`, and for the
    * MJPEG fourcc each `00dc` payload is a complete JPEG image, so
    * frame extraction is a chunk walk plus `ImageIO` — no codec.
    * Reference behavior: frame sampling for vision models
    * (`doc-ingest-chat/workers/whisperx_worker.py` handles the audio
    * leg; video frames were out of reference scope — this is a
    * training-pipeline extension). */
  object AviVideo {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    def isAvi(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 12 &&
        tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "AVI "

    /** Walk every chunk (recursing into LIST/RIFF) and hand
      * (chunkId, payloadOffset, payloadLen) to `f`. Truncated or
      * negative lengths end the walk instead of throwing — media
      * blobs at corpus scale are routinely damaged. */
    private def walk(bytes: Array[Byte], from: Int, to: Int)
        (f: (String, Int, Int) => Unit): Unit = {
      var o = from
      while (o + 8 <= to) {
        val id = tag(bytes, o)
        val len = le32(bytes, o + 4)
        // Bounds math in Long: a near-Int.MaxValue declared length
        // overflows `o + 8 + len` to a negative Int, defeating the
        // guard and crashing the task on the next le32 — a corrupt
        // blob must end the walk (fail-closed), never throw.
        if (len < 0 || o + 8L + len > to) return
        if (id == "LIST" || id == "RIFF") {
          if (len >= 4) walk(bytes, o + 12, o + 8 + len)(f)
        } else f(id, o + 8, len)
        o = (o + 8L + len + (len & 1)).toInt
      }
    }

    /** Main-header parse; None for non-AVI bytes. */
    def info(bytes: Array[Byte]): Option[AviInfo] = {
      if (!isAvi(bytes)) return None
      var found: Option[AviInfo] = None
      walk(bytes, 12, bytes.length) { (id, off, len) =>
        if (id == "avih" && len >= 40 && found.isEmpty)
          found = Some(AviInfo(le32(bytes, off + 32), le32(bytes, off + 36),
            le32(bytes, off + 16), le32(bytes, off)))
      }
      found
    }

    /** Offsets+lengths of every video frame chunk (`NNdc`/`NNdb`) in
      * stream order. */
    private def frameChunks(bytes: Array[Byte]): Vector[(Int, Int)] = {
      val out = Vector.newBuilder[(Int, Int)]
      walk(bytes, 12, bytes.length) { (id, off, len) =>
        val vid = id.length == 4 && id(0).isDigit && id(1).isDigit &&
          id(2) == 'd' && (id(3) == 'c' || id(3) == 'b')
        if (vid && len > 0) out += ((off, len))
      }
      out.result()
    }

    /** `n` frames sampled evenly across the stream (first frame of
      * each of n equal spans — deterministic, order-preserving);
      * empty for non-AVI bytes or a frameless file. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (!isAvi(bytes) || n <= 0) return Nil
      val frames = frameChunks(bytes)
      if (frames.isEmpty) return Nil
      val take = math.min(n, frames.length)
      (0 until take).map { i =>
        val (off, len) = frames((i.toLong * frames.length / take).toInt)
        java.util.Arrays.copyOfRange(bytes, off, off + len)
      }
    }
  }

  /** Perceptual AUDIO fingerprint (64-bit): the dHash idea on the
    * RMS loudness envelope — 65 equal windows over the PCM stream,
    * one bit per window-to-window gradient sign. Invariant to
    * uniform amplitude scaling (gradient comparisons survive gain
    * changes) and to sample rate / duration (fixed window count);
    * Hamming distance ≈ envelope difference, so the banded
    * [[Dedup.hashNearDups]] join mines re-encoded / re-leveled
    * duplicates without an all-pairs scan. None for non-PCM16 WAVs. */
  def audioHash64(bytes: Array[Byte]): Option[Long] =
    WavAudio.rmsFeatures(bytes, 65).map { env =>
      var bits = 0L
      var i = 0
      while (i < 64) {
        if (env(i + 1) > env(i)) bits |= (1L << i)
        i += 1
      }
      bits
    }

  /** Perceptual difference hash (dHash, 64-bit): decode, resize to
    * 9×8 grayscale, and emit one bit per horizontal gradient sign —
    * the classic near-duplicate IMAGE fingerprint (the pHash-family
    * dedup step web-scale image pipelines run; LAION-class corpora
    * dedup on exactly this kind of hash). Robust to re-encoding,
    * mild resizing, and brightness shifts; Hamming distance ≈
    * perceptual difference, so the banded [[Dedup.hashNearDups]]
    * join mines candidates without an all-pairs scan. Resizing uses
    * AreaAveraging (pixel-exact deterministic box filter) rather
    * than Graphics2D bilinear, whose output may vary across JDK
    * rendering pipelines. None for undecodable bytes. */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val img = JdkImageDecoder.decodeBounded(bytes).orNull
      if (img == null) return None
      Some(dHashOfImage(img))
    } catch { case _: Exception => None }
  }

  /** dHash64 over a RAW 8-bit LUMA PLANE (row-major w×h) — the form
    * the [[Multimodal.FrameDecodeService]] boundary returns for
    * codecs with no local decoder: same 9×8 area-average resize,
    * same gradient bits, so service-decoded frames and locally
    * decoded frames land in ONE comparable hash space (a re-encoded
    * duplicate keeps its Hamming proximity across the boundary).
    * None for a plane that is not exactly w·h bytes. */
  def dHash64Gray(w: Int, h: Int,
      luma: Array[Byte]): Option[Long] = {
    if (w <= 0 || h <= 0 || luma == null ||
      luma.length != w * h) return None
    try {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, luma)
      Some(dHashOfImage(img))
    } catch { case _: Exception => None }
  }

  /** Shared dHash core: 9×8 AreaAveraging resize (pixel-exact
    * deterministic box filter) + one bit per horizontal luma
    * gradient sign. */
  private def dHashOfImage(img: java.awt.Image): Long = {
    val w = 9; val h = 8
    val small = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    g.drawImage(img.getScaledInstance(w, h,
      java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
    g.dispose()
    var bits = 0L
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      var prev = 0
      while (x < w) {
        val rgb = small.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 +
          ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
        if (x > 0) {
          if (luma > prev) bits |= (1L << i)
          i += 1
        }
        prev = luma
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Codec-TAGGED keyframe payloads: (frame_idx, codec, payload)
    * sampled evenly across the container's keyframe set — the exact
    * row shape the [[Multimodal.FrameDecodeService]] boundary
    * consumes. Codec identity comes from the container metadata
    * (AVI is the engine's MJPEG path; MP4 stsd / MKV CodecID name
    * their bitstreams); unknown containers yield Nil. */
  def keyframePayloads(bytes: Array[Byte],
      n: Int): Seq[(Int, String, Array[Byte])] = {
    if (bytes == null || bytes.isEmpty || n <= 0) return Nil
    if (AviVideo.isAvi(bytes))
      AviVideo.sampleFrames(bytes, n).zipWithIndex
        .map { case (p, i) => (i, "mjpeg", p) }
    else if (Mp4Video.isMp4(bytes)) {
      val codec = Mp4Video.info(bytes).map(_.codec).getOrElse("")
      Mp4Video.sampleFrames(bytes, n).zipWithIndex
        .map { case (p, i) => (i, codec, p) }
    } else if (MkvVideo.isMkv(bytes)) {
      val codec = MkvVideo.info(bytes).map(_.codec).getOrElse("")
      MkvVideo.sampleFrames(bytes, n).zipWithIndex
        .map { case (p, i) => (i, codec, p) }
    } else Nil
  }

  /** Parsed MP4/MOV video-track summary. */
  case class Mp4Info(width: Int, height: Int, codec: String,
      timescale: Long, duration: Long, nSamples: Int, nSync: Int) {
    def durationSec: Double =
      if (timescale > 0) duration.toDouble / timescale else 0.0
  }

  /** ISO BMFF (MP4/MOV/M4V — `handlers/mp4_handler.py:17-29` routes
    * these types) box walk over raw bytes, pure JDK. The REAL part at
    * corpus scale is the sample-table plumbing: locating the video
    * `trak`, joining `stsz`/`stsc`/`stco|co64`/`stss` into per-sample
    * (offset, size) extents, and slicing KEYFRAME payloads out of
    * `mdat` — each sampled frame is returned as the coded bitstream
    * bytes (an opaque `binary` column value, per the multimodal
    * contract; H.264/HEVC pixel DECODE has no JDK codec and stays a
    * stub/service boundary, same as OCR/ASR). Malformed or truncated
    * boxes end the walk instead of throwing — corpus media is
    * routinely damaged. */
  object Mp4Video {
    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    def isMp4(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 12 && tag(bytes, 4) == "ftyp"

    /** Visit each box in [from, to): f(type, payloadStart, payloadEnd).
      * size==1 → 64-bit largesize; size==0 → box runs to `to`. */
    private def walk(bytes: Array[Byte], from: Int, to: Int)
        (f: (String, Int, Int) => Unit): Unit = {
      var o = from
      while (o + 8 <= to) {
        val size32 = be32(bytes, o)
        val typ = tag(bytes, o + 4)
        var payload = o + 8
        var end = 0L
        if (size32 == 1L) {
          if (o + 16 > to) return
          end = o + be64(bytes, o + 8)
          payload = o + 16
        } else if (size32 == 0L) end = to.toLong
        else end = o + size32
        if (end < payload || end > to) return
        f(typ, payload, end.toInt)
        o = end.toInt
      }
    }

    /** Payload range of the first `name` box directly inside
      * [from, to). */
    private def child(bytes: Array[Byte], from: Int, to: Int,
        name: String): Option[(Int, Int)] = {
      var found: Option[(Int, Int)] = None
      walk(bytes, from, to) { (t, s, e) =>
        if (t == name && found.isEmpty) found = Some((s, e))
      }
      found
    }

    private def descend(bytes: Array[Byte], from: Int, to: Int,
        path: String*): Option[(Int, Int)] =
      path.foldLeft(Option((from, to))) { (acc, name) =>
        acc.flatMap { case (s, e) => child(bytes, s, e, name) }
      }

    /** The video trak's `stbl` + `tkhd` ranges (handler == 'vide'). */
    private def videoTrak(bytes: Array[Byte])
        : Option[((Int, Int), Option[(Int, Int)])] = {
      val moov = child(bytes, 0, bytes.length, "moov").getOrElse {
        return None
      }
      var out: Option[((Int, Int), Option[(Int, Int)])] = None
      walk(bytes, moov._1, moov._2) { (t, s, e) =>
        if (t == "trak" && out.isEmpty) {
          val isVideo = descend(bytes, s, e, "mdia", "hdlr").exists {
            case (hs, he) => he - hs >= 12 && tag(bytes, hs + 8) == "vide"
          }
          if (isVideo)
            descend(bytes, s, e, "mdia", "minf", "stbl").foreach { stbl =>
              out = Some((stbl, child(bytes, s, e, "tkhd")))
            }
        }
      }
      out
    }

    /** Track summary; None for non-BMFF bytes or no video track. */
    def info(bytes: Array[Byte]): Option[Mp4Info] = {
      if (!isMp4(bytes)) return None
      val (stbl, tkhd) = videoTrak(bytes).getOrElse(return None)
      val (ts, dur) = child(bytes, 0, bytes.length, "moov")
        .flatMap { case (s, e) => child(bytes, s, e, "mvhd") }
        .map { case (s, e) =>
          val v = bytes(s) & 0xff
          if (v == 1 && e - s >= 28) (be32(bytes, s + 20), be64(bytes, s + 24))
          else if (e - s >= 20) (be32(bytes, s + 12), be32(bytes, s + 16))
          else (0L, 0L)
        }.getOrElse((0L, 0L))
      val (w, h) = tkhd.map { case (s, e) =>
        val v = bytes(s) & 0xff
        val off = if (v == 1) s + 88 else s + 76
        if (e - off >= 8)
          ((be32(bytes, off) >> 16).toInt, (be32(bytes, off + 4) >> 16).toInt)
        else (0, 0)
      }.getOrElse((0, 0))
      val codec = child(bytes, stbl._1, stbl._2, "stsd")
        .filter { case (s, e) => e - s >= 16 }
        .map { case (s, _) => tag(bytes, s + 12) }.getOrElse("")
      val extents = sampleExtents(bytes, stbl)
      val sync = syncSamples(bytes, stbl, extents.length)
      Some(Mp4Info(w, h, codec, ts, dur, extents.length, sync.length))
    }

    /** (offset, size) of every sample, from stsz × stsc × stco/co64 —
      * the ISO 14496-12 §8.7 chunk-run join. Empty on any
      * inconsistent table (treat as damaged). */
    private def sampleExtents(bytes: Array[Byte],
        stbl: (Int, Int)): Vector[(Long, Long)] = {
      val (ss, se) = stbl
      val sizes: Vector[Long] = child(bytes, ss, se, "stsz").map {
        case (s, e) =>
          if (e - s < 12) return Vector.empty
          val fixed = be32(bytes, s + 4)
          val n = be32(bytes, s + 8).toInt
          // untrusted 32-bit count: a corrupt stsz declaring ~2^31
          // fixed-size samples would allocate a multi-GB vector; every
          // real sample occupies ≥1 byte, so n > file size = damaged
          if (n < 0 || n > bytes.length) return Vector.empty
          if (fixed != 0) Vector.fill(n)(fixed)
          else if (e - s < 12 + 4L * n) return Vector.empty
          else (0 until n).map(i => be32(bytes, s + 12 + 4 * i)).toVector
      }.getOrElse(return Vector.empty)
      val chunkOffsets: Vector[Long] =
        child(bytes, ss, se, "stco").map { case (s, e) =>
          val n = be32(bytes, s + 4).toInt
          if (e - s < 8 + 4L * n) return Vector.empty
          (0 until n).map(i => be32(bytes, s + 8 + 4 * i)).toVector
        }.orElse(child(bytes, ss, se, "co64").map { case (s, e) =>
          val n = be32(bytes, s + 4).toInt
          if (e - s < 8 + 8L * n) return Vector.empty
          (0 until n).map(i => be64(bytes, s + 8 + 8 * i)).toVector
        }).getOrElse(return Vector.empty)
      // stsc runs: (first_chunk, samples_per_chunk)
      val runs: Vector[(Int, Int)] = child(bytes, ss, se, "stsc").map {
        case (s, e) =>
          val n = be32(bytes, s + 4).toInt
          if (e - s < 8 + 12L * n) return Vector.empty
          (0 until n).map(i => (be32(bytes, s + 8 + 12 * i).toInt,
            be32(bytes, s + 12 + 12 * i).toInt)).toVector
      }.getOrElse(return Vector.empty)
      if (runs.isEmpty || chunkOffsets.isEmpty) return Vector.empty
      val out = Vector.newBuilder[(Long, Long)]
      var sample = 0
      var run = 0
      var chunk = 0
      while (chunk < chunkOffsets.length && sample < sizes.length) {
        // advance the run when the NEXT run starts at this chunk
        if (run + 1 < runs.length && chunk + 1 >= runs(run + 1)._1)
          run += 1
        val perChunk = runs(run)._2
        var off = chunkOffsets(chunk)
        var i = 0
        while (i < perChunk && sample < sizes.length) {
          out += ((off, sizes(sample)))
          off += sizes(sample)
          sample += 1
          i += 1
        }
        chunk += 1
      }
      out.result()
    }

    /** 0-based sync-sample (keyframe) indices; stss absent → every
      * sample is sync (the spec's default). */
    private def syncSamples(bytes: Array[Byte], stbl: (Int, Int),
        nSamples: Int): Vector[Int] =
      child(bytes, stbl._1, stbl._2, "stss") match {
        case Some((s, e)) =>
          val n = be32(bytes, s + 4).toInt
          if (e - s < 8 + 4L * n) Vector.empty
          else (0 until n).map(i => be32(bytes, s + 8 + 4 * i).toInt - 1)
            .filter(i => i >= 0 && i < nSamples).toVector
        case None => (0 until nSamples).toVector
      }

    /** `n` KEYFRAME payloads sampled evenly across the sync set, as
      * coded bitstream bytes (opaque binary — the decode boundary
      * stays a stub/service, the extents math is real). */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (!isMp4(bytes) || n <= 0) return Nil
      val stbl = videoTrak(bytes).map(_._1).getOrElse(return Nil)
      val extents = sampleExtents(bytes, stbl)
      val sync = syncSamples(bytes, stbl, extents.length)
      if (sync.isEmpty) return Nil
      val take = math.min(n, sync.length)
      (0 until take).flatMap { i =>
        val s = sync((i.toLong * sync.length / take).toInt)
        val (off, len) = extents(s)
        if (off < 0 || len <= 0 || off + len > bytes.length) None
        else Some(java.util.Arrays.copyOfRange(
          bytes, off.toInt, (off + len).toInt))
      }
    }
  }

  /** Parsed Matroska/WebM video-track summary. */
  case class MkvInfo(width: Int, height: Int, codec: String,
      timestampScaleNs: Long, videoTrack: Long, nBlocks: Int, nKey: Int)

  /** Matroska / WebM (EBML) container walk over raw bytes, pure JDK —
    * the last reference-routed video container without a real local
    * path (`handlers/mp4_handler.py:17-29` routes .mkv/.webm alongside
    * .mp4/.mov). Same contract as [[Mp4Video]]: locate the video
    * track, walk Clusters, and slice KEYFRAME payloads (SimpleBlock
    * flag 0x80; BlockGroup Blocks with no ReferenceBlock sibling) as
    * coded bitstream bytes — VP8/VP9/AV1/H.264 pixel decode has no JDK
    * codec and stays the stub/service boundary, per the multimodal
    * contract. Laced block payloads are emitted as one opaque payload
    * (the lace header stays in the coded bytes; keyframes are
    * near-universally unlaced in practice).
    *
    * Fail-closed: malformed or truncated elements end the walk instead
    * of throwing, every loop strictly advances, and Cluster recursion
    * (needed because unknown-size Clusters make following Clusters
    * parse as nested elements) is depth-bounded — fuzzed bytes cannot
    * hang or blow the stack (ParserFuzzSpec). */
  object MkvVideo {
    // EBML element ids (length-marker bit kept, as the spec compares them)
    private val IdSegment = 0x18538067L
    private val IdInfo = 0x1549A966L
    private val IdTimestampScale = 0x2AD7B1L
    private val IdTracks = 0x1654AE6BL
    private val IdTrackEntry = 0xAEL
    private val IdTrackNumber = 0xD7L
    private val IdTrackType = 0x83L
    private val IdCodecId = 0x86L
    private val IdVideo = 0xE0L
    private val IdPixelWidth = 0xB0L
    private val IdPixelHeight = 0xBAL
    private val IdCluster = 0x1F43B675L
    private val IdTimestamp = 0xE7L
    private val IdSimpleBlock = 0xA3L
    private val IdBlockGroup = 0xA0L
    private val IdBlock = 0xA1L
    private val IdReferenceBlock = 0xFBL

    def isMkv(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 4 &&
        (bytes(0) & 0xff) == 0x1a && (bytes(1) & 0xff) == 0x45 &&
        (bytes(2) & 0xff) == 0xdf && (bytes(3) & 0xff) == 0xa3

    /** EBML variable-length ID at `o`: (value, width). IDs keep the
      * length-marker bit. None on truncation or a zero lead byte
      * (invalid: the walk would not advance). */
    private def readId(b: Array[Byte], o: Int): Option[(Long, Int)] = {
      if (o < 0 || o >= b.length) return None
      val first = b(o) & 0xff
      if (first == 0) return None
      val width = Integer.numberOfLeadingZeros(first) - 23 // 1..8
      if (width < 1 || width > 4 || o + width > b.length) return None
      var v = first.toLong
      var i = 1
      while (i < width) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      Some((v, width))
    }

    /** EBML size vint at `o`: marker bit cleared; the all-ones value
      * means "unknown size" → returned as -1. */
    private def readSize(b: Array[Byte], o: Int): Option[(Long, Int)] = {
      if (o < 0 || o >= b.length) return None
      val first = b(o) & 0xff
      if (first == 0) return None
      val width = Integer.numberOfLeadingZeros(first) - 23
      if (width < 1 || width > 8 || o + width > b.length) return None
      var v = (first & (0xff >>> width)).toLong
      var i = 1
      while (i < width) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      val unknown = (1L << (7 * width)) - 1
      Some((if (v == unknown) -1L else v, width))
    }

    /** Big-endian unsigned integer element payload (≤8 bytes read). */
    private def readUint(b: Array[Byte], s: Int, e: Int): Long = {
      var v = 0L
      var i = s
      val end = math.min(e, s + 8)
      while (i < end) { v = (v << 8) | (b(i) & 0xff); i += 1 }
      v
    }

    /** Visit each element in [from, to): f(id, payloadStart,
      * payloadEnd). Unknown-size payloads run to `to` (only Segment
      * and Cluster are unknown-size in practice; [[scan]] recurses
      * into nested Clusters so streamed files still parse). */
    private def walk(bytes: Array[Byte], from: Int, to: Int)
        (f: (Long, Int, Int) => Unit): Unit = {
      var o = math.max(from, 0)
      var continue = true
      while (continue && o < to) {
        val parsed = for {
          (id, iw) <- readId(bytes, o)
          (sz, sw) <- readSize(bytes, o + iw)
        } yield (id, sz, o + iw + sw)
        parsed match {
          case Some((id, sz, payload)) =>
            val end = if (sz < 0) to.toLong else payload.toLong + sz
            if (payload > to || end > to) continue = false
            else {
              f(id, payload, end.toInt)
              o = math.max(end.toInt, o + 1) // strictly advance
            }
          case None => continue = false
        }
      }
    }

    /** Payload range of the first `id` element directly inside
      * [from, to). */
    private def child(bytes: Array[Byte], from: Int, to: Int,
        id: Long): Option[(Int, Int)] = {
      var found: Option[(Int, Int)] = None
      walk(bytes, from, to) { (t, s, e) =>
        if (t == id && found.isEmpty) found = Some((s, e))
      }
      found
    }

    /** The Segment payload range (whole-file walk). */
    private def segment(bytes: Array[Byte]): Option[(Int, Int)] =
      child(bytes, 0, bytes.length, IdSegment)

    /** First video TrackEntry: (trackNumber, codecId, width, height). */
    private def videoTrack(bytes: Array[Byte], seg: (Int, Int))
        : Option[(Long, String, Int, Int)] = {
      val tracks = child(bytes, seg._1, seg._2, IdTracks)
        .getOrElse(return None)
      var out: Option[(Long, String, Int, Int)] = None
      walk(bytes, tracks._1, tracks._2) { (id, s, e) =>
        if (id == IdTrackEntry && out.isEmpty) {
          var num = -1L
          var typ = -1L
          var codec = ""
          var w = 0
          var h = 0
          walk(bytes, s, e) { (cid, cs, ce) =>
            cid match {
              case IdTrackNumber => num = readUint(bytes, cs, ce)
              case IdTrackType => typ = readUint(bytes, cs, ce)
              case IdCodecId =>
                codec = new String(bytes, cs, ce - cs, "US-ASCII")
              case IdVideo =>
                child(bytes, cs, ce, IdPixelWidth).foreach { case (a, b2) =>
                  w = readUint(bytes, a, b2).toInt }
                child(bytes, cs, ce, IdPixelHeight).foreach { case (a, b2) =>
                  h = readUint(bytes, a, b2).toInt }
              case _ => ()
            }
          }
          if (typ == 1L && num > 0) out = Some((num, codec, w, h))
        }
      }
      out
    }

    /** One parsed block occurrence. */
    private case class Blk(track: Long, tsTicks: Long, off: Int,
        len: Int, key: Boolean)

    /** Plain vint (marker bit cleared, NO unknown-size sentinel) —
      * block-header track numbers have no unknown semantics, so the
      * all-ones values [[readSize]] maps to -1 are ordinary numbers
      * here (track 127 encodes as the 1-byte all-ones 0xFF). */
    private def readVint(b: Array[Byte], o: Int): Option[(Long, Int)] = {
      if (o < 0 || o >= b.length) return None
      val first = b(o) & 0xff
      if (first == 0) return None
      val width = Integer.numberOfLeadingZeros(first) - 23
      if (width < 1 || width > 8 || o + width > b.length) return None
      var v = (first & (0xff >>> width)).toLong
      var i = 1
      while (i < width) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      Some((v, width))
    }

    /** Block/SimpleBlock payload: track vint + int16 relative
      * timestamp + flags byte + coded frame bytes. `keyOverride` is
      * the BlockGroup no-ReferenceBlock determination (plain Blocks
      * carry no keyframe flag). */
    private def parseBlock(b: Array[Byte], s: Int, e: Int,
        clusterTs: Long, keyOverride: Option[Boolean],
        out: scala.collection.mutable.ArrayBuffer[Blk]): Unit =
      readVint(b, s) match {
        case Some((track, tw)) if track > 0 =>
          val p = s + tw
          if (p + 3 <= e) {
            val rel = ((b(p) << 8) | (b(p + 1) & 0xff)).toShort.toLong
            val flags = b(p + 2) & 0xff
            val key = keyOverride.getOrElse((flags & 0x80) != 0)
            out += Blk(track, clusterTs + rel, p + 3, e - (p + 3), key)
          }
        case _ => ()
      }

    /** Depth-bounded Cluster scan (see class scaladoc). */
    private def scan(bytes: Array[Byte], from: Int, to: Int,
        depth: Int,
        out: scala.collection.mutable.ArrayBuffer[Blk]): Unit = {
      if (depth > 16) return
      var ts = 0L
      walk(bytes, from, to) { (id, s, e) =>
        id match {
          case IdCluster => scan(bytes, s, e, depth + 1, out)
          case IdTimestamp => ts = readUint(bytes, s, e)
          case IdSimpleBlock => parseBlock(bytes, s, e, ts, None, out)
          case IdBlockGroup =>
            var ref = false
            var blk: Option[(Int, Int)] = None
            walk(bytes, s, e) { (cid, cs, ce) =>
              if (cid == IdReferenceBlock) ref = true
              else if (cid == IdBlock && blk.isEmpty) blk = Some((cs, ce))
            }
            blk.foreach { case (bs, be) =>
              parseBlock(bytes, bs, be, ts, Some(!ref), out)
            }
          case _ => ()
        }
      }
    }

    /** All blocks of the given track, in file order. */
    private def trackBlocks(bytes: Array[Byte], seg: (Int, Int),
        track: Long): Vector[Blk] = {
      val out = new scala.collection.mutable.ArrayBuffer[Blk]()
      scan(bytes, seg._1, seg._2, 0, out)
      out.filter(_.track == track).toVector
    }

    /** Video-track summary; None for non-EBML bytes or no video
      * track. */
    def info(bytes: Array[Byte]): Option[MkvInfo] = {
      if (!isMkv(bytes)) return None
      val seg = segment(bytes).getOrElse(return None)
      val (num, codec, w, h) = videoTrack(bytes, seg).getOrElse(return None)
      val scale = child(bytes, seg._1, seg._2, IdInfo)
        .flatMap { case (s, e) => child(bytes, s, e, IdTimestampScale) }
        .map { case (s, e) => readUint(bytes, s, e) }
        .filter(_ > 0).getOrElse(1000000L)
      val blocks = trackBlocks(bytes, seg, num)
      Some(MkvInfo(w, h, codec, scale, num, blocks.length,
        blocks.count(_.key)))
    }

    /** `n` KEYFRAME payloads sampled evenly across the video track's
      * keyframe set, as coded bitstream bytes (opaque binary). */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (!isMkv(bytes) || n <= 0) return Nil
      val seg = segment(bytes).getOrElse(return Nil)
      val (num, _, _, _) = videoTrack(bytes, seg).getOrElse(return Nil)
      val keys = trackBlocks(bytes, seg, num).filter(_.key)
      if (keys.isEmpty) return Nil
      val take = math.min(n, keys.length)
      (0 until take).flatMap { i =>
        val k = keys((i.toLong * keys.length / take).toInt)
        if (k.off < 0 || k.len < 0 || k.off + k.len > bytes.length) None
        else Some(java.util.Arrays.copyOfRange(bytes, k.off, k.off + k.len))
      }
    }
  }

  /** Parsed WAV header + content stats. */
  case class WavInfo(channels: Int, sampleRate: Int, bitsPerSample: Int,
      durationSec: Double)

  /** RIFF/WAVE parsing over raw bytes — no library needed. */
  object WavAudio {
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b.slice(o, o + 4), "US-ASCII")

    /** Parse the fmt + data chunks; None for non-WAV bytes. */
    def info(bytes: Array[Byte]): Option[WavInfo] = {
      if (bytes == null || bytes.length < 44) return None
      if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var o = 12
      var fmt: Option[(Int, Int, Int)] = None
      var dataLen = -1
      var walking = true
      while (walking && o + 8 <= bytes.length &&
          (fmt.isEmpty || dataLen < 0)) {
        val id = tag(bytes, o)
        val len = le32(bytes, o + 4)
        // a negative (corrupt) chunk length would walk backwards or
        // pin the cursor — fail closed instead
        if (len < 0) walking = false
        else {
          if (id == "fmt " && o + 24 <= bytes.length)
            fmt = Some((le16(bytes, o + 10), le32(bytes, o + 12),
              le16(bytes, o + 22)))
          else if (id == "data") dataLen = len
          // advance in Long: `o + 8 + len` overflows Int for len near
          // Int.MaxValue, turning the cursor negative and crashing the
          // next le32 instead of failing closed
          val next = o.toLong + 8 + len + (len & 1)
          if (next > bytes.length) walking = false else o = next.toInt
        }
      }
      for ((ch, rate, bits) <- fmt if dataLen >= 0 && ch > 0 &&
          rate > 0 && bits > 0)
        yield WavInfo(ch, rate, bits,
          dataLen.toDouble / (rate.toLong * ch * (bits / 8)))
    }

    /** Per-bucket RMS energy over 16-bit PCM samples: `dim` equal
      * time slices, deterministic per bytes. */
    def rmsFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      info(bytes).filter(_.bitsPerSample == 16).map { _ =>
        // find the data chunk again for its offset
        var o = 12
        var dataOff = -1
        var dataLen = 0
        var walking = true
        while (walking && o + 8 <= bytes.length && dataOff < 0) {
          val id = tag(bytes, o)
          val len = le32(bytes, o + 4)
          if (len < 0) walking = false // corrupt length: fail closed
          else {
            if (id == "data") { dataOff = o + 8; dataLen = len }
            val next = o.toLong + 8 + len + (len & 1) // Long: see info
            if (next > bytes.length) walking = false else o = next.toInt
          }
        }
        val nSamples =
          if (dataOff < 0) 0
          else math.min(dataLen, bytes.length - dataOff) / 2
        val out = new Array[Float](dim)
        val counts = new Array[Int](dim)
        var i = 0
        while (i < nSamples) {
          val s = le16(bytes, dataOff + 2 * i).toShort.toDouble / 32768.0
          val b = math.min(dim - 1, (i.toLong * dim / math.max(1, nSamples)).toInt)
          out(b) += (s * s).toFloat
          counts(b) += 1
          i += 1
        }
        var j = 0
        while (j < dim) {
          out(j) = if (counts(j) > 0)
            math.sqrt(out(j) / counts(j)).toFloat else 0f
          j += 1
        }
        out
      }
  }

  /** EXIF metadata (CIPA DC-008 / TIFF 6.0 IFD walk) from a JPEG's
    * APP1 segment — the typed-metadata layer a multimodal corpus
    * audit needs before training on crawled images: capture device,
    * orientation (rotation-normalize BEFORE hashing/dedup, or
    * rotated duplicates slip every pixel hash), original timestamp
    * (temporal dedup/split keys), and — the governance hook — a
    * GPS-IFD PRESENCE flag: embedded GPS coordinates are location
    * PII, and a release audit wants the count of GPS-bearing images
    * the same way q108/q281 count PAN/IBAN hits in text.
    *
    * Parse shape: JPEG marker walk (FFD8, big-endian segment
    * lengths) to the first APP1 with the `Exif\0\0` header, then a
    * TIFF IFD walk honoring the declared byte order (II/MM): IFD0
    * tags Make/Model/Orientation/DateTime, the 0x8769 Exif sub-IFD
    * (DateTimeOriginal, PixelX/YDimension), 0x8825 GPS pointer. All
    * reads are bounds-checked; any structural violation fails
    * CLOSED to None (the q130 contract) — hostile dimensions cost
    * nothing because only the directory, never pixel data, is read. */
  object Exif {
    final case class ExifInfo(byteOrder: String,
        make: Option[String], model: Option[String],
        orientation: Option[Int], dateTime: Option[String],
        dateTimeOriginal: Option[String],
        pixelX: Option[Long], pixelY: Option[Long],
        hasGps: Boolean)

    private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff

    /** APP1/Exif payload offset within a JPEG, if present. */
    private def app1Offset(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8)
        return None
      var o = 2
      while (o + 4 <= b.length && u8(b, o) == 0xff) {
        val marker = u8(b, o + 1)
        if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS
        val len = (u8(b, o + 2) << 8) | u8(b, o + 3)
        if (len < 2 || o + 2 + len > b.length) return None
        if (marker == 0xe1 && len >= 8 &&
            b.slice(o + 4, o + 10).sameElements(
              Array[Byte]('E', 'x', 'i', 'f', 0, 0)))
          return Some((o + 10, o + 2 + len))
        o += 2 + len
      }
      None
    }

    def parse(bytes: Array[Byte]): Option[ExifInfo] = try {
      app1Offset(bytes).flatMap { case (tiff, end) =>
        if (tiff + 8 > end) None
        else {
          val le =
            if (bytes(tiff) == 'I' && bytes(tiff + 1) == 'I') Some(true)
            else if (bytes(tiff) == 'M' && bytes(tiff + 1) == 'M')
              Some(false)
            else None
          le.flatMap { little =>
            def u16(o: Int): Int =
              if (little) u8(bytes, o) | (u8(bytes, o + 1) << 8)
              else (u8(bytes, o) << 8) | u8(bytes, o + 1)
            def u32(o: Int): Long =
              if (little) (u8(bytes, o) | (u8(bytes, o + 1) << 8) |
                (u8(bytes, o + 2) << 16)).toLong |
                (u8(bytes, o + 3).toLong << 24)
              else (u8(bytes, o).toLong << 24) |
                (u8(bytes, o + 1) << 16).toLong |
                (u8(bytes, o + 2) << 8).toLong | u8(bytes, o + 3)
            if (u16(tiff + 2) != 42) None
            else {
              // one IFD -> tag -> raw value map (types 2/3/4 only —
              // the tags below use nothing else)
              def ifd(off0: Long): Map[Int, Either[String, Long]] = {
                val off = tiff + off0
                if (off0 <= 0 || off + 2 > end) return Map.empty
                val n = u16(off.toInt)
                (0 until n).flatMap { i =>
                  val e = off.toInt + 2 + i * 12
                  if (e + 12 > end) None
                  else {
                    val tag = u16(e); val typ = u16(e + 2)
                    val cnt = u32(e + 4)
                    typ match {
                      case 2 => // ASCII, count incl. NUL
                        // bounds-check in LONG: a hostile ~2^32
                        // offset would wrap .toInt into the valid
                        // range and read garbage (r11 review)
                        val start: Long = if (cnt <= 4) (e + 8).toLong
                          else tiff.toLong + u32(e + 8)
                        if (cnt < 1 || cnt > 4096 ||
                            start < 0 || start + cnt > end) None
                        else Some(tag -> Left(new String(bytes,
                          start.toInt, cnt.toInt - 1, "ISO-8859-1")))
                      case 3 if cnt == 1 =>
                        Some(tag -> Right(u16(e + 8).toLong))
                      case 4 if cnt == 1 =>
                        Some(tag -> Right(u32(e + 8)))
                      case _ => None
                    }
                  }
                }.toMap
              }
              val ifd0 = ifd(u32(tiff + 4))
              if (ifd0.isEmpty) None
              else {
                val sub = ifd0.get(0x8769)
                  .collect { case Right(p) => ifd(p) }
                  .getOrElse(Map.empty)
                def str(m: Map[Int, Either[String, Long]], t: Int) =
                  m.get(t).collect { case Left(s) => s }
                def num(m: Map[Int, Either[String, Long]], t: Int) =
                  m.get(t).collect { case Right(v) => v }
                Some(ExifInfo(
                  byteOrder = if (little) "II" else "MM",
                  make = str(ifd0, 0x010f),
                  model = str(ifd0, 0x0110),
                  orientation = num(ifd0, 0x0112).map(_.toInt),
                  dateTime = str(ifd0, 0x0132),
                  dateTimeOriginal = str(sub, 0x9003),
                  pixelX = num(sub, 0xa002),
                  pixelY = num(sub, 0xa003),
                  hasGps = ifd0.contains(0x8825)))
              }
            }
          }
        }
      }
    } catch { case _: Throwable => None }
  }
}
