package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Ingestion pipeline behavior: routing, front-matter, the canonical
  * projection, tier gating, and the end-to-end markdown slice
  * (SURVEY §3.2 re-expression). */
class IngestSpec extends SparkTestBase {

  test("extension routing covers the handler chain (F15)") {
    import spark.implicits._
    val got = Seq("a/report.PDF", "b/x.md", "c/y.txt", "d/z.mp3",
      "e/v.mkv", "f/page.html", "g/w.xyz").toDF("path")
      .select(Ingest.routeByExtension(col("path"))).as[String].collect()
    assert(got === Array("pdf", "markdown", "text", "audio", "video",
      "html", "unsupported"))
  }

  test("front-matter parse splits meta map and body (S6)") {
    import spark.implicits._
    val md = "---\ntitle: My Doc\nauthor: someone\n---\n# Body\ntext"
    val noFm = "# Plain\nbody only"
    val rows = Ingest.parseFrontMatter(
      Seq(md, noFm).toDF("text"), "text")
      .select("metadata", "body").collect()
    assert(rows(0).getMap[String, String](0) ===
      Map("title" -> "My Doc", "author" -> "someone"))
    assert(rows(0).getString(1) === "# Body\ntext")
    assert(rows(1).getMap[String, String](0).isEmpty)
    assert(rows(1).getString(1) === noFm)
  }

  test("normalizeMetadata projects to the fixed 10-key schema (F12)") {
    import spark.implicits._
    val sparse = Seq(("some chunk", "f.md")).toDF("chunk", "source_file")
    val out = Ingest.normalizeMetadata(sparse)
    assert(out.columns.toSeq === Seq("chunk", "chunk_id", "source_file",
      "document_id", "trace_id", "type", "hash", "engine", "page",
      "chunk_index"))
    val r = out.head()
    assert(r.getAs[String]("type") === "unknown")
    assert(r.getAs[Int]("page") === -1)
  }

  test("vectorPayload coerces page to int-or-minus-1 (F13)") {
    import spark.implicits._
    val rows = Seq(
      ("f", "t", "e", "h", 0, "id1", "7"),
      ("f", "t", "e", "h", 1, "id2", "n/a"))
      .toDF("source_file", "type", "engine", "hash", "chunk_index",
        "chunk_id", "page")
    val got = Ingest.vectorPayload(rows)
      .select("page").collect().map(_.getInt(0))
    assert(got.toSeq === Seq(7, -1))
  }

  test("tier routing bypasses LLM for clean text (C6 short-circuit)") {
    import spark.implicits._
    val clean = "a normal readable paragraph with plenty of ordinary " +
      "words and structure that passes every quality predicate easily"
    val got = Seq(clean, "bad").toDF("s")
      .select(Ingest.tierRouting(col("s"))).as[String].collect()
    assert(got === Array("passthrough", "llm_normalize"))
  }

  test("ingestMarkdown end-to-end: ids, prefix, provenance (§3.2 slice)") {
    import spark.implicits._
    val docs = Seq(
      ("doc1.md", "---\ntitle: T\n---\n# H\n" +
        (1 to 600).map(i => s"tok$i").mkString(" ")),
      ("doc2.md", "short body here")).toDF("source_file", "text")
    val out = Ingest.ingestMarkdown(docs)
    assert(out.filter($"source_file" === "doc1.md").count() >= 2)
    val r = out.filter($"source_file" === "doc2.md").head()
    assert(r.getAs[String]("chunk").startsWith("passage: [DOC_"))
    assert(r.getAs[String]("chunk_id")
      .startsWith(r.getAs[String]("document_id") + "_"))
    assert(r.getAs[String]("hash").matches("[0-9a-f]{32}"))
    // deterministic re-run: same ids (D2 idempotency)
    val again = Ingest.ingestMarkdown(docs)
    assert(out.select("chunk_id").collect().toSet
      === again.select("chunk_id").collect().toSet)
  }

  test("normalize batches only gated rows through the service (C6)") {
    import spark.implicits._
    val clean = "a normal readable paragraph with plenty of ordinary " +
      "words and structure that passes every quality predicate easily"
    val junk = ("noise " * 40).trim
    val df = Seq(("a", clean), ("b", junk)).toDF("id", "text")
    val out = Ingest.normalize(df, "text", Ingest.IdentityNormalizer)
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("norm_engine"), r.getAs[String]("normalized")))
      .toMap
    assert(out("a")._1 === "passthrough" && out("a")._2 === clean)
    assert(out("b")._1 === "llm")
    assert(out("b")._2 === junk) // identity service: shape-preserving
  }

  test("decodeText charset-sniffs BOMs, declarations, and the " +
      "UTF-8-else-cp1252 fallback (S4)") {
    import spark.implicits._
    val utf16 = ("\uFEFF" + "héllo utf16").getBytes("UTF-16LE")
    val bom8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "héllo utf8".getBytes("UTF-8")
    val declared = """<html><head><meta charset="windows-1252"></head>
      |caf""".stripMargin.getBytes("ISO-8859-1") ++ Array(0xE9.toByte)
    val latin1 = ("caf" + "é" + " plain").getBytes("windows-1252")
    val plain = "just ascii utf8 é".getBytes("UTF-8")
    val df = Seq(
      ("utf16le.txt", utf16), ("utf8bom.txt", bom8),
      ("declared.html", declared), ("latin1.txt", latin1),
      ("plain.txt", plain)).toDF("source_file", "content")
    val got = Ingest.decodeText(df, "content")
      .select("source_file", "charset", "text").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got("utf16le.txt") === ("UTF-16LE", "héllo utf16"))
    assert(got("utf8bom.txt") === ("UTF-8", "héllo utf8"))
    assert(got("declared.html")._1 === "windows-1252")
    assert(got("declared.html")._2.endsWith("café"))
    assert(got("latin1.txt") === ("windows-1252", "café plain"))
    assert(got("plain.txt") === ("UTF-8", "just ascii utf8 é"))
  }

  test("decodeText feeds htmlToText without mojibake (S4 end-to-end)") {
    import spark.implicits._
    val html = "<html><body><p>résumé &amp; café</p></body></html>"
    val df = Seq(("cv.html", html.getBytes("windows-1252")))
      .toDF("source_file", "content")
    val out = Ingest.decodeText(df, "content")
      .select(Ingest.htmlToText(org.apache.spark.sql.functions.col("text"))
        .as("t")).as[String].head()
    assert(out === "résumé & café")
  }

  test("discover anti-joins tracked files (S1/J5)") {
    import spark.implicits._
    withTempDir("staging") { d =>
      val tmp = d.toFile
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "new.md").toPath, "# new doc")
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "done.md").toPath, "# old doc")
      val lifecycle = Seq(
        ("done.md", "CONSUMING"), ("gone.md", "INGEST_SUCCESS"))
        .toDF("source_file", "status")
      val got = Ingest.discover(spark, tmp.getAbsolutePath, lifecycle)
        .select("source_file").as[String].collect()
      assert(got.toSeq === Seq("new.md"))
    }
  }
}
