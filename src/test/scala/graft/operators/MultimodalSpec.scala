package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema, partition-batched decode, frame
  * explode. The codec
  * itself is the deterministic [[Multimodal.StubDecoder]]. */
class MultimodalSpec extends SparkTestBase {

  private lazy val media = {
    val rows = java.util.Arrays.asList(
      Row("img1", "image", "fake-jpeg-bytes-1".getBytes, Map("src" -> "a")),
      Row("img2", "image", "fake-jpeg-bytes-2".getBytes, Map("src" -> "b")),
      Row("bad", "image", Array.empty[Byte], Map.empty[String, String]),
      Row("vid1", "video", "fake-mp4-bytes-##".getBytes, Map.empty[String, String]))
    spark.createDataFrame(rows, Multimodal.MediaSchema)
  }

  test("decodeImages: typed dims for good bytes, ok=false for bad") {
    val out = Multimodal.decodeImages(media, Multimodal.StubDecoder)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("img1").getBoolean(4))
    assert(out("img1").getInt(1) >= 64 && out("img1").getInt(3) === 3)
    assert(!out("bad").getBoolean(4))
    assert(out("bad").isNullAt(1))
  }

  test("decode is deterministic per content (idempotent re-runs)") {
    val a = Multimodal.decodeImages(media, Multimodal.StubDecoder)
      .collect().map(_.toSeq).toSet
    val b = Multimodal.decodeImages(media, Multimodal.StubDecoder)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("sampleFrames explodes videos only, n rows each") {
    val frames = Multimodal.sampleFrames(media, Multimodal.StubDecoder, 5)
      .collect()
    assert(frames.length === 5)
    assert(frames.forall(_.getString(0) === "vid1"))
    assert(frames.map(_.getInt(1)).sorted.toSeq === (0 until 5))
  }

  // ---- real-container video-frame dedup (r6) ----------------------

  /** Textured deterministic PNG frame: per-pixel pseudo-random
    * brightness keyed by the frame seed, so distinct frames get
    * far-apart dHashes (a solid color hashes to 0 and everything
    * would collide). */
  private def frame(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16) {
      val v = ((x * 73 + y * 151 + seed * 997) * 0x9E3779B1) >>> 24
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(id.getBytes("US-ASCII"))
      (0 until 4).foreach(i => b.write((payload.length >> (8 * i)) & 0xff))
      b.write(payload)
      if (payload.length % 2 == 1) b.write(0)
      b.toByteArray
    }
    def list(kind: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ children)
    val avih = new Array[Byte](56)
    def put32(o: Int, v: Int): Unit =
      (0 until 4).foreach(i => avih(o + i) = ((v >> (8 * i)) & 0xff).toByte)
    put32(0, 33333); put32(16, frames.length); put32(32, 16); put32(36, 8)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++
      list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    bos.write("RIFF".getBytes("US-ASCII")); le32(body.length)
    bos.write(body)
    bos.toByteArray
  }

  test("videoFrameNearDups finds a planted duplicate frame across " +
      "AVI files end-to-end (r6)") {
    // clip A carries frames 0/1/2; clip B re-cuts frame 1 between its
    // own frames 3/4 — the one cross-file near-dup pair
    val vids = java.util.Arrays.asList(
      Row("clipA", "video", avi(Seq(frame(0), frame(1), frame(2))),
        Map.empty[String, String]),
      Row("clipB", "video", avi(Seq(frame(3), frame(1), frame(4))),
        Map.empty[String, String]))
    val media = spark.createDataFrame(vids, Multimodal.MediaSchema)
    val pairs = Multimodal.videoFrameNearDups(media,
        MultimodalCodecs.JdkImageDecoder, framesPerVideo = 3,
        maxHamming = 2)
      .collect()
      .map(r => Set(r.getString(0), r.getString(1)) -> r.getInt(2))
    assert(pairs.toMap === Map(Set("clipA#1", "clipB#1") -> 0),
      s"expected exactly the planted pair, got ${pairs.toSeq}")
  }

  // ---- minimal ISO BMFF (MP4) fixture: 5 samples of 7 bytes,
  // keyframes 1/3/5 (1-based), avc1 — the MultimodalCodecsSpec
  // builder with parameterized frame content ----
  private def be(vals: Long*): Array[Byte] =
    vals.flatMap(v => Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)).toArray
  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val size = payload.length + 8
    be(size) ++ typ.getBytes("US-ASCII") ++ payload
  }
  private def mp4Avc1(tag: String): Array[Byte] = {
    val frames = (0 until 5).map(i => s"${tag}_$i") // 7 bytes each
    require(frames.forall(_.length == 7))
    val ftyp = box("ftyp", "isom".getBytes ++ be(0))
    val mdat = box("mdat", frames.mkString("").getBytes)
    val base = ftyp.length + 8
    val stsd = box("stsd", be(0, 1) ++ be(8) ++ "avc1".getBytes)
    val stsz = box("stsz", be(0, 7, 5))
    val stsc = box("stsc", be(0, 1, 1, 2, 1))
    val stco = box("stco", be(0, 3, base, base + 14, base + 28))
    val stss = box("stss", be(0, 3, 1, 3, 5))
    val stbl = box("stbl", stsd ++ stsz ++ stsc ++ stco ++ stss)
    val hdlr = box("hdlr", be(0, 0) ++ "vide".getBytes ++ be(0, 0, 0))
    val mdia = box("mdia", hdlr ++ box("minf", stbl))
    val tkhd = box("tkhd", be(0, 0, 0, 1, 0, 1200) ++ be(0, 0) ++
      Array[Byte](0, 0, 0, 0, 1, 0, 0, 0) ++
      be(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000) ++
      be(320L << 16, 240L << 16))
    val mvhd = box("mvhd", be(0, 0, 0, 600, 1200))
    ftyp ++ mdat ++ box("moov", mvhd ++ box("trak", tkhd ++ mdia))
  }

  test("videoKeyframePayloads tags MP4 keyframes with the container " +
      "codec — the exact row shape the FrameDecodeService consumes") {
    val rows = java.util.Arrays.asList(
      Row("v1", "video", mp4Avc1("FRAME"), Map.empty[String, String]))
    val m = spark.createDataFrame(rows, Multimodal.MediaSchema)
    val out = Multimodal.videoKeyframePayloads(m, framesPerVideo = 8)
      .collect().sortBy(_.getInt(1))
      .map(r => (r.getInt(1), r.getString(2),
        new String(r.getAs[Array[Byte]](3))))
    assert(out.toSeq === Seq((0, "avc1", "FRAME_0"),
      (1, "avc1", "FRAME_2"), (2, "avc1", "FRAME_4")))
  }

  test("H.264-tagged payloads route through a LIVE HTTP frame-decode " +
      "service into videoFrameNearDupsServed; identical content " +
      "across containers lands at Hamming 0") {
    val codecsSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/decode_frame",
      new com.sun.net.httpserver.HttpHandler {
        def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val root = om.readTree(
            new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
          codecsSeen.add(root.get("codec").asText())
          val payload = java.util.Base64.getDecoder.decode(
            root.get("payload_base64").asText())
          // the server-side "decoder": the same content-deterministic
          // plane the in-process stub produces
          val g = Multimodal.StubFrameDecodeService.decodeFrame(
            Multimodal.FrameJob("", 0, "", payload)).get
          val resp = (s"""{"status":"success","job_id":"""" +
            root.get("job_id").asText() +
            s"""","width":${g.width},"height":${g.height},""" +
            s""""luma_base64":"${java.util.Base64.getEncoder
              .encodeToString(g.luma)}"}""").getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, resp.length)
          ex.getResponseBody.write(resp)
          ex.close()
        }
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val rows = java.util.Arrays.asList(
        Row("vidA", "video", mp4Avc1("FRAME"),
          Map.empty[String, String]),
        Row("vidB", "video", mp4Avc1("FRAME"), // same content
          Map.empty[String, String]),
        Row("vidC", "video", mp4Avc1("OTHER"),
          Map.empty[String, String]))
      val m = spark.createDataFrame(rows, Multimodal.MediaSchema)
      val pairs = Multimodal.videoFrameNearDupsServed(m,
          new HttpServices.HttpFrameDecodeService(base),
          framesPerVideo = 8, maxHamming = 0)
        .collect()
        .map(r => Set(r.getString(0), r.getString(1)) -> r.getInt(2))
        .toMap
      assert(pairs === Map(
        Set("vidA#0", "vidB#0") -> 0,
        Set("vidA#1", "vidB#1") -> 0,
        Set("vidA#2", "vidB#2") -> 0),
        s"expected the 3 cross-file frame dups, got $pairs")
      // every keyframe of every video crossed the boundary, all avc1
      assert(codecsSeen.size === 9)
      assert(codecsSeen.toArray.forall(_ == "avc1"))
    } finally server.stop(0)
  }

  test("locally decodable MJPEG frames NEVER touch the service (the " +
      "boundary is for codecs the JVM cannot decode)") {
    object FailService extends Multimodal.FrameDecodeService {
      def decodeFrame(job: Multimodal.FrameJob)
          : Option[Multimodal.GrayFrame] =
        throw new IllegalStateException(
          s"service hit for local codec ${job.codec}")
    }
    val rows = java.util.Arrays.asList(
      Row("a", "video", avi(Seq(frame(0), frame(1))),
        Map.empty[String, String]),
      Row("b", "video", avi(Seq(frame(0), frame(7))),
        Map.empty[String, String]))
    val m = spark.createDataFrame(rows, Multimodal.MediaSchema)
    val pairs = Multimodal.videoFrameNearDupsServed(m, FailService,
        framesPerVideo = 2, maxHamming = 2)
      .collect()
      .map(r => Set(r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    assert(pairs === Map(Set("a#0", "b#0") -> 0),
      s"expected the one planted MJPEG dup, got $pairs")
  }
}
