package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Real JDK codecs: ImageIO-backed dimensions and RIFF/WAVE
  * header parsing + PCM energy features. */
class MultimodalCodecsSpec extends SparkTestBase {

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFFFFFF else 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Minimal PCM16 mono WAV: header + a 440-ish square wave. */
  private def wavBytes(rate: Int, seconds: Double): Array[Byte] = {
    val n = (rate * seconds).toInt
    val dataLen = n * 2
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def le16(v: Int): Unit =
      (0 until 2).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    bos.write("RIFF".getBytes); le32(36 + dataLen)
    bos.write("WAVE".getBytes)
    bos.write("fmt ".getBytes); le32(16)
    le16(1); le16(1); le32(rate); le32(rate * 2); le16(2); le16(16)
    bos.write("data".getBytes); le32(dataLen)
    (0 until n).foreach { i =>
      le16(if ((i / 50) % 2 == 0) 12000 else -12000)
    }
    bos.toByteArray
  }

  test("JdkImageDecoder reads real PNG dimensions") {
    val png = pngBytes(32, 16)
    assert(MultimodalCodecs.JdkImageDecoder.imageDims(png)
      === Some((32, 16, 3)))
    // garbage bytes are undecodable
    assert(MultimodalCodecs.JdkImageDecoder
      .imageDims("not an image".getBytes).isEmpty)
  }

  test("WavAudio parses RIFF headers and computes RMS features") {
    val wav = wavBytes(8000, 0.5)
    val info = MultimodalCodecs.WavAudio.info(wav)
    assert(info === Some(MultimodalCodecs.WavInfo(1, 8000, 16, 0.5)))
    val f = MultimodalCodecs.WavAudio.rmsFeatures(wav, 4).get
    assert(f.length === 4)
    // constant-amplitude square wave: every bucket near 12000/32768
    f.foreach(v => assert(math.abs(v - 12000f / 32768f) < 0.01f))
    assert(MultimodalCodecs.WavAudio.info("RIFFjunk".getBytes).isEmpty)
  }

  /** Solid-color JPEG frame (color identifies the frame index). */
  private def jpegBytes(rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal MJPEG AVI: RIFF('AVI ' LIST('hdrl' avih)
    * LIST('movi' 00dc…)) with one JPEG per frame. */
  private def aviBytes(frames: Seq[Array[Byte]], w: Int = 16,
      h: Int = 8): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(id.getBytes("US-ASCII")); (0 until 4).foreach(i =>
        b.write((payload.length >> (8 * i)) & 0xff))
      b.write(payload)
      if (payload.length % 2 == 1) b.write(0)
      b.toByteArray
    }
    def list(kind: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ children)
    val avih = new Array[Byte](56)
    def put32(o: Int, v: Int): Unit =
      (0 until 4).foreach(i => avih(o + i) = ((v >> (8 * i)) & 0xff).toByte)
    put32(0, 33333); put32(16, frames.length); put32(32, w); put32(36, h)
    val hdrl = list("hdrl", chunk("avih", avih))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    bos.write("RIFF".getBytes("US-ASCII")); le32(body.length)
    bos.write(body)
    bos.toByteArray
  }

  test("AviVideo walks RIFF/AVI and samples MJPEG frames evenly") {
    // 10 frames, red channel encodes the frame index
    val frames = (0 until 10).map(i => jpegBytes((i * 25) << 16))
    val avi = aviBytes(frames)
    val info = MultimodalCodecs.AviVideo.info(avi).get
    assert(info.width === 16 && info.height === 8)
    assert(info.totalFrames === 10)
    assert(math.abs(info.fps - 30.0) < 0.1)
    // sample 5 of 10 → first frame of each 2-frame span: 0,2,4,6,8
    val sampled = MultimodalCodecs.AviVideo.sampleFrames(avi, 5)
    assert(sampled.length === 5)
    val reds = sampled.map { f =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f))
      (img.getRGB(8, 4) >> 16) & 0xff
    }
    // JPEG is lossy on exact values but a solid 16×8 block stays
    // within a few counts of the encoded 25·i levels
    val expected = Seq(0, 50, 100, 150, 200)
    reds.zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) <= 8, s"got $got want $want")
    }
    // n > frames clamps; non-AVI bytes yield no frames
    assert(MultimodalCodecs.AviVideo.sampleFrames(avi, 99).length === 10)
    assert(MultimodalCodecs.AviVideo
      .sampleFrames("not avi bytes".getBytes, 3).isEmpty)
    // truncated container ends the walk instead of throwing
    val cut = java.util.Arrays.copyOf(avi, avi.length / 2)
    assert(MultimodalCodecs.AviVideo.sampleFrames(cut, 3).length <= 10)
  }

  test("sampleFrames explodes a real MJPEG AVI through the Spark op") {
    import spark.implicits._
    val avi = aviBytes((0 until 6).map(i => jpegBytes(i << 16)))
    val media = Seq(
      ("vid1", "video", avi, Map.empty[String, String]),
      ("img1", "image", pngBytes(8, 8), Map.empty[String, String]))
      .toDF("media_id", "kind", "bytes", "meta")
    val out = Multimodal.sampleFrames(media,
      MultimodalCodecs.JdkImageDecoder, 3).collect()
    assert(out.length === 3)
    assert(out.forall(_.getString(0) === "vid1"))
    // each emitted frame is a decodable JPEG of the declared dims
    out.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img.getWidth === 16 && img.getHeight === 8)
    }
  }

  test("resizeImages scales real images and passes bad bytes through " +
      "as ok=false") {
    import spark.implicits._
    val media = Seq(
      ("img1", "image", pngBytes(32, 16), Map.empty[String, String]),
      ("bad1", "image", "garbage".getBytes, Map.empty[String, String]),
      ("aud1", "audio", wavBytes(8000, 0.1), Map.empty[String, String]))
      .toDF("media_id", "kind", "bytes", "meta")
    val out = Multimodal.resizeImages(media,
      MultimodalCodecs.JdkImageDecoder, 8, 8).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size === 2)                       // images only
    assert(out("img1").getBoolean(2))
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out("img1").getAs[Array[Byte]](1)))
    assert(resized.getWidth === 8 && resized.getHeight === 8)
    assert(!out("bad1").getBoolean(2) && out("bad1").isNullAt(1))
    // deterministic re-encode (PNG, not JPEG, for bit-stability)
    val again = Multimodal.resizeImages(media,
      MultimodalCodecs.JdkImageDecoder, 8, 8).collect()
      .find(_.getString(0) == "img1").get.getAs[Array[Byte]](1)
    assert(java.util.Arrays.equals(again, out("img1").getAs[Array[Byte]](1)))
  }

  /** PNG of a smooth horizontal gradient, optionally perturbed by a
    * small localized brightness bump (a near-duplicate twin). */
  private def gradientPng(w: Int, h: Int, reverse: Boolean = false,
      bump: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (x * 255) / (w - 1)
      val v0 = if (reverse) 255 - base else base
      val v = math.min(255,
        v0 + (if (bump > 0 && x < w / 8 && y < h / 8) bump else 0))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash64 + banded imageNearDups find the perceptual twin and " +
      "skip the far image (r5)") {
    import spark.implicits._
    import MultimodalCodecs.dHash64
    val a = gradientPng(64, 64)
    val twin = gradientPng(64, 64, bump = 24)      // local perturbation
    val rescaled = gradientPng(128, 128)           // same content, 2x size
    val far = gradientPng(64, 64, reverse = true)  // opposite gradients
    val ha = dHash64(a).get
    val hr = dHash64(rescaled).get
    val hf = dHash64(far).get
    // scale invariance: the same gradient at 2x resolution hashes
    // within a few bits; the reversed gradient is far away
    assert(java.lang.Long.bitCount(ha ^ hr) <= 7)
    assert(java.lang.Long.bitCount(ha ^ hf) > 20)
    assert(dHash64("not an image".getBytes).isEmpty)
    assert(dHash64(null).isEmpty)
    val media = Seq(
      ("a", a), ("twin", twin), ("rescaled", rescaled), ("far", far),
      ("bad", "junk".getBytes))
      .toDF("media_id", "bytes")
    val pairs = Multimodal.imageNearDups(media)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("a", "twin")) ||
      pairs.contains(("twin", "a")))
    assert(pairs.contains(("a", "rescaled")) ||
      pairs.contains(("rescaled", "a")))
    assert(!pairs.exists(p => p._1 == "far" || p._2 == "far"))
    assert(!pairs.exists(p => p._1 == "bad" || p._2 == "bad"))
  }

  test("audioHash64 + audioNearDups: gain-scaled clip is a near-dup, " +
      "different envelope is far (r5)") {
    import spark.implicits._
    import MultimodalCodecs.audioHash64
    // wavBytes emits a fixed square wave — same envelope at any rate;
    // build contrasting envelopes by hand instead
    def pcmWav(samples: Array[Short]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit =
        bos.write(Array[Byte](v.toByte, (v >> 8).toByte,
          (v >> 16).toByte, (v >> 24).toByte))
      def le16(v: Int): Unit =
        bos.write(Array[Byte](v.toByte, (v >> 8).toByte))
      bos.write("RIFF".getBytes); le32(36 + samples.length * 2)
      bos.write("WAVE".getBytes); bos.write("fmt ".getBytes); le32(16)
      le16(1); le16(1); le32(16000); le32(32000); le16(2); le16(16)
      bos.write("data".getBytes); le32(samples.length * 2)
      samples.foreach(s => le16(s & 0xffff))
      bos.toByteArray
    }
    // per-window amplitude levels (window-aligned so the envelope
    // gradient IS the fixture): same levels at half gain = near-dup;
    // independently drawn levels = far
    val n = 6500
    def clip(seed: Int): Array[Short] = {
      val rnd = new scala.util.Random(seed)
      val levels = Array.fill(65)(2000 + rnd.nextInt(18000))
      Array.tabulate(n) { i =>
        val w = math.min(64, i * 65 / n)
        (math.sin(i * 0.5) * levels(w)).toShort
      }
    }
    val ramp = clip(1)
    val gained = ramp.map(s => (s * 0.5).toShort)   // −6 dB copy
    val decay = clip(2)
    val ha = audioHash64(pcmWav(ramp)).get
    val hg = audioHash64(pcmWav(gained)).get
    val hd = audioHash64(pcmWav(decay)).get
    assert(java.lang.Long.bitCount(ha ^ hg) <= 7,
      "gain change must not move the envelope hash")
    assert(java.lang.Long.bitCount(ha ^ hd) > 20,
      "rising vs decaying envelopes must be far apart")
    assert(audioHash64("not audio".getBytes).isEmpty)
    val media = Seq(("a", pcmWav(ramp)), ("g", pcmWav(gained)),
      ("d", pcmWav(decay)), ("bad", "junk".getBytes))
      .toDF("media_id", "bytes")
    val pairs = Multimodal.audioNearDups(media)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("a", "g")))
  }

  // ---- hand-built minimal ISO BMFF (MP4) fixture ------------------
  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val size = payload.length + 8
    out.write(Array[Byte]((size >> 24).toByte, (size >> 16).toByte,
      (size >> 8).toByte, size.toByte))
    out.write(typ.getBytes("US-ASCII"))
    out.write(payload)
    out.toByteArray
  }
  private def be(vals: Long*): Array[Byte] =
    vals.flatMap(v => Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)).toArray

  /** 5 samples of 7 bytes (FRAME_0..FRAME_4), 2-per-chunk layout,
    * keyframes at samples 1/3/5 (1-based), 320x240 avc1, ts=600
    * dur=1200. */
  private def mp4Bytes(): (Array[Byte], Seq[String]) = {
    val frames = (0 until 5).map(i => s"FRAME_$i")
    val ftyp = box("ftyp", "isom".getBytes ++ be(0))
    val mdat = box("mdat", frames.mkString("").getBytes)
    val base = ftyp.length + 8 // first frame's absolute offset
    val stsd = box("stsd", be(0, 1) ++ be(8) ++ "avc1".getBytes)
    val stsz = box("stsz", be(0, 7, 5)) // fixed size 7, 5 samples
    val stsc = box("stsc", be(0, 1, 1, 2, 1)) // 1 run: 2 per chunk
    val stco = box("stco",
      be(0, 3, base, base + 14, base + 28)) // chunks at samples 0,2,4
    val stss = box("stss", be(0, 3, 1, 3, 5)) // sync = 1-based 1,3,5
    val stbl = box("stbl", stsd ++ stsz ++ stsc ++ stco ++ stss)
    val minf = box("minf", stbl)
    val hdlr = box("hdlr", be(0, 0) ++ "vide".getBytes ++ be(0, 0, 0))
    val mdia = box("mdia", hdlr ++ minf)
    val tkhd = box("tkhd", be(0, 0, 0, 1, 0, 1200) ++ be(0, 0) ++
      Array[Byte](0, 0, 0, 0, 1, 0, 0, 0) ++ // layer/alt/vol/res
      be(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000) ++ // matrix
      be(320L << 16, 240L << 16))
    val mvhd = box("mvhd", be(0, 0, 0, 600, 1200))
    val moov = box("moov", mvhd ++ box("trak", tkhd ++ mdia))
    (ftyp ++ mdat ++ moov, frames)
  }

  test("Mp4Video parses the sample tables and extracts keyframe " +
      "payloads (ISO BMFF, r5)") {
    import MultimodalCodecs.Mp4Video
    val (bytes, frames) = mp4Bytes()
    val info = Mp4Video.info(bytes).get
    assert(info.width === 320 && info.height === 240)
    assert(info.codec === "avc1")
    assert(info.timescale === 600L && info.duration === 1200L)
    assert(math.abs(info.durationSec - 2.0) < 1e-12)
    assert(info.nSamples === 5 && info.nSync === 3)
    // 2 of the 3 keyframes, evenly sampled: samples 0 and 2
    val two = Mp4Video.sampleFrames(bytes, 2).map(new String(_))
    assert(two === Seq(frames(0), frames(2)))
    // asking for more than exist returns every keyframe in order
    val all = Mp4Video.sampleFrames(bytes, 10).map(new String(_))
    assert(all === Seq(frames(0), frames(2), frames(4)))
    // non-BMFF and truncated inputs fail closed
    assert(Mp4Video.sampleFrames("not a video".getBytes, 3) === Nil)
    assert(Mp4Video.info(bytes.take(40)) === None)
    // the decoder routes MP4 ahead of the stub boundary
    val routed = MultimodalCodecs.JdkImageDecoder.sampleFrames(bytes, 2)
    assert(routed.map(new String(_)) === Seq(frames(0), frames(2)))
  }

  test("Mp4Video treats an implausible stsz sample count as damaged " +
      "(no multi-GB allocation, r6)") {
    import MultimodalCodecs.Mp4Video
    val (bytes, _) = mp4Bytes()
    // locate the stsz box; its payload is be(version, fixedSize,
    // count) — patch count (payload offset 8) to ~2^31. A fixed-size
    // stsz with an unbounded count would otherwise Vector.fill a
    // multi-GB vector (advisor finding, r5): must read as damaged
    // (empty sample tables), not allocate.
    val tag = "stsz".getBytes("US-ASCII")
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      bytes(i) == tag(0) && bytes(i + 1) == tag(1) &&
      bytes(i + 2) == tag(2) && bytes(i + 3) == tag(3)).get
    val patched = bytes.clone()
    val cnt = 0x7fff0000
    patched(at + 12) = (cnt >> 24).toByte
    patched(at + 13) = (cnt >> 16).toByte
    patched(at + 14) = (cnt >> 8).toByte
    patched(at + 15) = cnt.toByte
    val info = Mp4Video.info(patched).get
    assert(info.nSamples === 0 && info.nSync === 0)
    assert(Mp4Video.sampleFrames(patched, 3) === Nil)
  }

  // ---- hand-built minimal Matroska (EBML) fixture -----------------
  private def ebmlId(id: Long): Array[Byte] = {
    val w = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    (0 until w).map(i => ((id >> (8 * (w - 1 - i))) & 0xff).toByte).toArray
  }
  // 2-byte size vint 0x40xx xx — plenty for fixture payloads
  private def ebmlSize(n: Long): Array[Byte] =
    Array[Byte]((0x40 | ((n >> 8) & 0x3f)).toByte, (n & 0xff).toByte)
  private def el(id: Long, payload: Array[Byte]): Array[Byte] =
    ebmlId(id) ++ ebmlSize(payload.length) ++ payload
  private def uintEl(id: Long, v: Long): Array[Byte] = {
    var w = 1
    while (w < 8 && (v >>> (8 * w)) != 0) w += 1
    el(id, (0 until w).map(i =>
      ((v >> (8 * (w - 1 - i))) & 0xff).toByte).toArray)
  }
  /** track-vint + int16 rel-ts + flags + coded bytes (the Block AND
    * SimpleBlock payload layout; 0x80 = SimpleBlock keyframe flag). */
  private def blockPayload(track: Int, rel: Int, key: Boolean,
      data: String): Array[Byte] =
    Array[Byte]((0x80 | track).toByte, ((rel >> 8) & 0xff).toByte,
      (rel & 0xff).toByte, (if (key) 0x80 else 0x00).toByte) ++
      data.getBytes("US-ASCII")

  /** Two clusters; video track 1 (audio track 2 first, to prove
    * selection): keyframes K0 (SimpleBlock), K1 (BlockGroup w/o
    * ReferenceBlock), K2 (SimpleBlock); deltas D1 (SimpleBlock flag
    * 0) and D2 (BlockGroup WITH ReferenceBlock). */
  private def mkvBytes(): Array[Byte] = {
    val info = el(0x1549A966L, uintEl(0x2AD7B1L, 500000L))
    val trackA = el(0xAEL,
      uintEl(0xD7L, 2) ++ uintEl(0x83L, 2) ++
        el(0x86L, "A_OPUS".getBytes("US-ASCII")))
    val trackV = el(0xAEL,
      uintEl(0xD7L, 1) ++ uintEl(0x83L, 1) ++
        el(0x86L, "V_VP9".getBytes("US-ASCII")) ++
        el(0xE0L, uintEl(0xB0L, 64) ++ uintEl(0xBAL, 48)))
    val tracks = el(0x1654AE6BL, trackA ++ trackV)
    val cluster1 = el(0x1F43B675L,
      uintEl(0xE7L, 0) ++
        el(0xA3L, blockPayload(1, 0, key = true, "K0")) ++
        el(0xA3L, blockPayload(1, 40, key = false, "D1")) ++
        el(0xA3L, blockPayload(2, 0, key = true, "AUDIO")))
    val cluster2 = el(0x1F43B675L,
      uintEl(0xE7L, 1000) ++
        el(0xA0L, el(0xA1L, blockPayload(1, 0, key = false, "K1"))) ++
        el(0xA0L,
          el(0xA1L, blockPayload(1, 250, key = false, "D2")) ++
            uintEl(0xFBL, 0)) ++
        el(0xA3L, blockPayload(1, 500, key = true, "K2")))
    val segment = el(0x18538067L, info ++ tracks ++ cluster1 ++ cluster2)
    el(0x1A45DFA3L, Array.emptyByteArray) ++ segment
  }

  test("MkvVideo walks EBML clusters and extracts keyframe payloads " +
      "(Matroska/WebM, r5)") {
    import MultimodalCodecs.MkvVideo
    val bytes = mkvBytes()
    val info = MkvVideo.info(bytes).get
    assert(info.width === 64 && info.height === 48)
    assert(info.codec === "V_VP9" && info.videoTrack === 1L)
    assert(info.timestampScaleNs === 500000L)
    assert(info.nBlocks === 5, "video-track blocks only (audio excluded)")
    assert(info.nKey === 3, "SimpleBlock 0x80 flag + no-ReferenceBlock " +
      "BlockGroups are keyframes; D1/D2 are not")
    val two = MkvVideo.sampleFrames(bytes, 2).map(new String(_))
    assert(two === Seq("K0", "K1"))
    val all = MkvVideo.sampleFrames(bytes, 10).map(new String(_))
    assert(all === Seq("K0", "K1", "K2"))
    // unknown-size Segment (streamed-file shape): 1-byte all-ones size
    val seg = {
      val info2 = mkvBytes()
      val segStart = el(0x1A45DFA3L, Array.emptyByteArray).length
      // re-point the segment header at an unknown size
      val idW = 4
      info2.slice(0, segStart + idW) ++ Array[Byte](0xff.toByte) ++
        info2.drop(segStart + idW + 2)
    }
    assert(MkvVideo.sampleFrames(seg, 10).map(new String(_)) ===
      Seq("K0", "K1", "K2"), "unknown-size Segment still parses")
    // fail-closed on non-EBML and truncated inputs
    assert(MkvVideo.info("not matroska".getBytes) === None)
    assert(MkvVideo.sampleFrames(bytes.take(30), 3) === Nil)
    // track 127: the 1-byte ALL-ONES vint (0xFF) — a plain number in
    // block headers, not the size-field unknown sentinel
    val t127 = {
      val trackV = el(0xAEL, uintEl(0xD7L, 127) ++ uintEl(0x83L, 1) ++
        el(0x86L, "V_VP9".getBytes("US-ASCII")))
      val cl = el(0x1F43B675L, uintEl(0xE7L, 0) ++
        el(0xA3L, blockPayload(127, 0, key = true, "K127")))
      el(0x1A45DFA3L, Array.emptyByteArray) ++
        el(0x18538067L, el(0x1654AE6BL, trackV) ++ cl)
    }
    assert(MkvVideo.info(t127).map(i => (i.videoTrack, i.nKey)) ===
      Some((127L, 1)))
    assert(MkvVideo.sampleFrames(t127, 1).map(new String(_)) ===
      Seq("K127"))
    // the decoder routes Matroska ahead of the stub boundary
    val routed = MultimodalCodecs.JdkImageDecoder.sampleFrames(bytes, 2)
    assert(routed.map(new String(_)) === Seq("K0", "K1"))
  }

  test("decodeImages drives the Spark pipeline with real codecs") {
    import spark.implicits._
    val media = Seq(
      ("img1", "image", pngBytes(8, 8), Map.empty[String, String]),
      ("aud1", "audio", wavBytes(16000, 0.25), Map.empty[String, String]),
      ("bad1", "image", "garbage".getBytes, Map.empty[String, String]))
      .toDF("media_id", "kind", "bytes", "meta")
    val imgs = Multimodal.decodeImages(media,
      MultimodalCodecs.JdkImageDecoder)
      .orderBy("media_id").collect()
    assert(imgs.find(_.getString(0) == "img1").get.getInt(1) === 8)
    assert(!imgs.find(_.getString(0) == "bad1").get.getBoolean(4))
  }
}
