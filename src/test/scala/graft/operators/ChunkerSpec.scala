package graft.operators

import graft.SparkTestBase

/** Chunking invariants ported from the reference's test suite
  * (`tests/test_no_loss_splitting.py:17-31`,
  * `test_token_budgeting.py:25-31`, `test_sliding_window_normalization
  * .py:15-30`): zero-loss reconstruction, budget compliance, overlap
  * continuity — plus ScalaCheck properties over random documents. */
class ChunkerSpec extends SparkTestBase {

  private val words = Array("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta")

  test("markdownLinks: links and images in order with the image " +
      "flag, literal brackets and loose parens never extract") {
    import spark.implicits._
    val md = "intro [a](https://x.com/1) mid ![img](p/q.png) " +
      "[rel](../d) and [broken bracket or (loose paren."
    val out = Chunker.markdownLinks(
      Seq((1L, md)).toDF("id", "md"), "id", "md")
      .orderBy("link_id")
      .collect().map(r => (r.getLong(1), r.getBoolean(2),
        r.getString(3), r.getString(4)))
    assert(out.toSeq === Seq(
      (0L, false, "a", "https://x.com/1"),
      (1L, true, "img", "p/q.png"),
      (2L, false, "rel", "../d")))
  }

  test("token windows: zero loss — dropping overlaps reconstructs input") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(900)
      val doc = Array.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
      val budget = 16 + rnd.nextInt(113)
      val overlap = rnd.nextInt(16 min budget)
      val tokens = WhitespaceTokenizer.tokenize(doc)
      val wins = Chunker.tokenWindows(tokens, budget, overlap)
      val rebuilt = wins.zipWithIndex.flatMap { case (w, i) =>
        if (i == 0) w.toSeq else w.toSeq.drop(overlap min w.length)
      }
      // every window within budget
      assert(wins.forall(_.length <= budget))
      // zero loss: every token covered, in order
      assert(rebuilt === tokens.toSeq,
        s"budget=$budget overlap=$overlap n=${tokens.length}")
    }
  }

  test("token windows: overlap tokens repeat across adjacent windows") {
    val tokens = (1 to 100).map(_.toString).toArray
    val wins = Chunker.tokenWindows(tokens, 30, 10)
    wins.sliding(2).foreach {
      case Seq(a, b) => assert(a.takeRight(10).sameElements(b.take(10)))
      case _ =>
    }
  }

  test("sliding char windows: zero loss + size bound") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val text = rnd.alphanumeric.take(rnd.nextInt(5000)).mkString
      val wins = Chunker.slidingWindowChars(text, 600, 60)
      assert(wins.forall(_.length <= 600))
      val rebuilt = wins.zipWithIndex.map { case (w, i) =>
        if (i == 0) w else w.drop(60 min w.length)
      }.mkString
      assert(rebuilt === text)
    }
  }

  test("markdown split: header hierarchy + INTERNAL_PAGE attribution") {
    val md =
      """# Title
        |intro text here
        |## Section A
        |### [INTERNAL_PAGE_3]
        |content on page three
        |### [INTERNAL_PAGE_4]
        |content on page four
        |## Section B
        |more content
        |""".stripMargin
    val pieces = Chunker.splitMarkdown(md)
    assert(pieces.nonEmpty)
    // page anchors update attribution and are not emitted
    assert(pieces.forall(p => !p.text.contains("INTERNAL_PAGE")))
    val p3 = pieces.filter(_.text.contains("page three"))
    val p4 = pieces.filter(_.text.contains("page four"))
    assert(p3.nonEmpty && p3.forall(_.page === 3))
    assert(p4.nonEmpty && p4.forall(_.page === 4))
    // header context tracked
    assert(p3.forall(p => p.h1 == "Title" && p.h2 == "Section A"))
    assert(pieces.filter(_.text.contains("more content"))
      .forall(_.h2 === "Section B"))
    // chunk_index dense 0..n-1 with back-filled total (A10)
    assert(pieces.map(_.chunkIndex) === pieces.indices)
    assert(pieces.forall(_.totalChunks === pieces.length))
  }

  test("markdown split: inline content after a page anchor is " +
      "preserved on the new page (text_processor.py:47-57)") {
    val md =
      """# T
        |### [INTERNAL_PAGE_1] Do you still believe this content stays
        |### [INTERNAL_PAGE_2]
        |page two body
        |""".stripMargin
    val pieces = Chunker.splitMarkdown(md)
    val inline = pieces.filter(_.text.contains("Do you still believe"))
    assert(inline.nonEmpty, "inline anchor content must not be dropped")
    assert(inline.forall(_.page === 1))
    assert(pieces.forall(p => !p.text.contains("INTERNAL_PAGE")))
  }

  test("markdown split: anchor-less content defaults to page 1 " +
      "(text_processor.py:100)") {
    val pieces = Chunker.splitMarkdown("# H\njust a body\n")
    assert(pieces.nonEmpty && pieces.forall(_.page === 1))
  }

  test("markdown split: oversized section sub-splits under budget, zero drop") {
    val body = (1 to 3000).map(i => s"w$i").mkString(" ")
    val md = s"# Big\n$body\n"
    val pieces = Chunker.splitMarkdown(md)
    assert(pieces.length > 1)
    assert(pieces.forall(p =>
      WhitespaceTokenizer.count(p.text) <= Chunker.DefaultBudget))
    // zero drop: all words present
    val all = pieces.flatMap(p => WhitespaceTokenizer.tokenize(p.text)).toSet
    assert((1 to 3000).forall(i => all.contains(s"w$i")))
  }

  test("chunkMarkdown DataFrame wrapper explodes with provenance") {
    import spark.implicits._
    val df = Seq(
      ("f1.md", "# A\nhello world\n## B\nmore text"),
      ("f2.md", "plain body no headers")).toDF("source_file", "text")
    val out = Chunker.chunkMarkdown(df, "text")
    assert(out.columns.toSeq === Seq("source_file", "text", "page",
      "h1", "h2", "chunk_index", "total_chunks"))
    val rows = out.collect()
    assert(rows.length >= 3)
    assert(out.filter($"source_file" === "f2.md").count() === 1)
  }

  test("Generator and UDF chunking formulations agree") {
    import spark.implicits._
    val df = Seq(
      ("g1.md", "# T\n" + (1 to 1200).map(i => s"w$i").mkString(" ")),
      ("g2.md", "## S\nshort"))
      .toDF("source_file", "text")
    val gen = Chunker.chunkMarkdown(df, "text")
      .collect().map(_.toSeq).toSet
    val viaUdf = ChunkerSpec.chunkMarkdownUdf(df, "text")
      .collect().map(_.toSeq).toSet
    assert(gen === viaUdf)
  }

  test("enrich adds passage prefix, md5 hash, chunk_id") {
    import spark.implicits._
    val df = Seq(("DOC_9BBFD75F", "some chunk body"))
      .toDF("document_id", "text")
    val row = Chunker.enrich(df, "document_id", "text").head()
    val chunk = row.getAs[String]("chunk")
    assert(chunk === "passage: [DOC_9BBFD75F] some chunk body")
    assert(row.getAs[String]("hash").matches("[0-9a-f]{32}"))
    assert(row.getAs[String]("chunk_id").startsWith("DOC_9BBFD75F_"))
  }
}

object ChunkerSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  case class PieceRow(text: String, page: Int, h1: String,
      h2: String, chunk_index: Int, total_chunks: Int)

  private val splitMarkdownUdf = udf { (md: String) =>
    if (md == null) Array.empty[PieceRow]
    else Chunker.splitMarkdown(md).map(p =>
      PieceRow(p.text, p.page, p.h1, p.h2, p.chunkIndex, p.totalChunks))
      .toArray
  }

  /** Reference formulation for [[Chunker.chunkMarkdown]]: the same
    * pure splitter behind an array-returning UDF + explode. */
  def chunkMarkdownUdf(df: DataFrame, mdCol: String): DataFrame =
    df.withColumn("_piece", explode(splitMarkdownUdf(col(mdCol))))
      .select(df.columns.filterNot(_ == mdCol).map(col).toSeq
        :+ col("_piece.*"): _*)
}
