package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer abstraction (SURVEY §7 hard part 2): chunk budgets are
  * tokenizer-dependent; the engine ships a deterministic whitespace
  * tokenizer for hermetic tests and keeps the trait open for an
  * HF-compatible implementation. */
trait Tokenizer extends Serializable {
  def tokenize(s: String): Array[String]
  def count(s: String): Int = tokenize(s).length
  def detokenize(tokens: Seq[String]): String
}

object WhitespaceTokenizer extends Tokenizer {
  def tokenize(s: String): Array[String] =
    s.split("\\s+").filter(_.nonEmpty)
  def detokenize(tokens: Seq[String]): String = tokens.mkString(" ")
}

/** Chunking / reshaping operators (SURVEY §2.3 — the reference's core
  * "relational" work, `processors/text_processor.py:23-287`):
  *
  *  C1 hierarchical markdown split (`#` → `##` → `### [INTERNAL_PAGE_`
  *     → `###`), with page attribution from INTERNAL_PAGE anchors
  *  C2 zero-drop token-window sub-split (never truncate)
  *  C3 sliding character windows (6000/600 — `gatekeeper_logic.py:84-112`)
  *  C4 token windows with overlap (512-budget family)
  *  C8 chunk enrichment (passage prefix + ids — `producer_graph.py:92-113`)
  *
  * Pure Scala core (property-testable without Spark) + DataFrame
  * wrappers that explode ARRAY<STRUCT> generator output.
  */
object Chunker {

  /** Markdown link/image extraction — the markdown-side parallel of
    * the HTML outlink extractor ([[Boilerplate.outlinks]]): every
    * `[text](target)` and `![alt](src)` in document order, the raw
    * material for link graphs over markdown corpora and for image
    * manifests (every multimodal doc pipeline starts by LISTING the
    * referenced media). Output: (idCol, link_id, is_image, anchor,
    * target). One three-capture regex over the document (RE2 ∩ Java
    * — no backreferences), position-zipped like the HTML family;
    * titled links `[text](url "Title")` / `[text](url 'Title')`
    * extract the url (the title is matched, not captured);
    * reference-style `[text][id]` links are out of the snapshot's
    * scope, documented. */
  def markdownLinks(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pat = lit("(!?)\\[([^\\]]*)\\]\\(([^)\\s]*)" +
      "(?:\\s+(?:\"[^\"]*\"|'[^']*'))?\\)")
    val t = col(textCol)
    df.select(col(idCol), posexplode(arrays_zip(
        regexp_extract_all(t, pat, lit(1)),
        regexp_extract_all(t, pat, lit(2)),
        regexp_extract_all(t, pat, lit(3))))
        .as(Seq("link_id", "z")))
      .select(col(idCol), col("link_id").cast("long").as("link_id"),
        (col("z.0") === "!").as("is_image"),
        col("z.1").as("anchor"), col("z.2").as("target"))
  }

  /** One emitted chunk with its provenance. */
  case class Piece(text: String, page: Int, h1: String, h2: String,
      chunkIndex: Int, totalChunks: Int)

  /** Reference defaults (`shared/defaults.py:61-63`,
    * `text_processor.py:84`, BASELINE.md): MAX_TOKENS=256 stored per
    * chunk, 85% safety budget, minus the "passage: [DOC_xxxx] "
    * prefix overhead the enrichment step will add, 50-token overlap.
    * Whitespace tokenizer counts the prefix as 2 tokens. */
  val MaxTokens: Int = 256
  val PrefixOverhead: Int = 2
  val DefaultBudget: Int = (MaxTokens * 0.85).toInt - PrefixOverhead // 215
  val DefaultOverlap: Int = 50
  val MaxChunksPerDoc: Int = 5000

  /** C4/C2: fixed-budget token windows advancing by (budget − overlap);
    * zero-drop — every input token appears in at least one window, and
    * every window is ≤ budget tokens. Window count is capped at
    * [[MaxChunksPerDoc]] (`defaults.py:60` safety limit). */
  def tokenWindows(tokens: Array[String], budget: Int,
      overlap: Int): Seq[Array[String]] = {
    require(budget > 0, "budget must be positive")
    val step = math.max(1, budget - overlap)
    if (tokens.isEmpty) Seq.empty
    else {
      val out = Seq.newBuilder[Array[String]]
      var i = 0
      var n = 0
      while (i < tokens.length && n < MaxChunksPerDoc) {
        out += tokens.slice(i, math.min(i + budget, tokens.length))
        n += 1
        if (i + budget >= tokens.length) i = tokens.length
        else i += step
      }
      out.result()
    }
  }

  /** C3: sliding character windows, size 6000 / overlap 600. */
  def slidingWindowChars(text: String, size: Int = 6000,
      overlap: Int = 600): Seq[String] = {
    require(size > overlap, "size must exceed overlap")
    if (text.isEmpty) Seq.empty
    else {
      val step = size - overlap
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < text.length) {
        out += text.substring(i, math.min(i + size, text.length))
        if (i + size >= text.length) i = text.length else i += step
      }
      out.result()
    }
  }

  private val PageAnchor = "\\[INTERNAL_PAGE_(\\d+)\\]".r

  /** C1: hierarchical markdown split. Sections break at `#`/`##`/`###`
    * headers; `### [INTERNAL_PAGE_n]` anchors update page attribution
    * and are dropped from emitted text — but any inline content after
    * the anchor on the same line is PRESERVED as the start of the new
    * page's section (the reference explicitly pre-processes this
    * supervisor-LLM quirk, `text_processor.py:47-57` — dropping it
    * would break the zero-drop contract). Page defaults to 1 for
    * content before any anchor (`text_processor.py:100`). Each
    * section is token-window sub-split under `budget` with `overlap`;
    * chunk indexes and total count are back-filled across the whole
    * document (A10, `text_processor.py:141-144`). */
  def splitMarkdown(md: String, tokenizer: Tokenizer = WhitespaceTokenizer,
      budget: Int = DefaultBudget, overlap: Int = DefaultOverlap)
      : Seq[Piece] = {
    var page = 1
    var h1 = ""
    var h2 = ""
    val sections = Seq.newBuilder[(String, Int, String, String)]
    val cur = new StringBuilder
    def flush(): Unit = {
      val body = cur.toString.trim
      if (body.nonEmpty) sections += ((body, page, h1, h2))
      cur.clear()
    }
    md.linesIterator.foreach { line =>
      val t = line.trim
      if (t.startsWith("### ")) {
        PageAnchor.findFirstMatchIn(t) match {
          case Some(m) =>
            flush(); page = m.group(1).toInt
            val inline = t.substring(m.end).trim
            if (inline.nonEmpty) cur.append(inline).append('\n')
          case None =>
            flush(); cur.append(line).append('\n')
        }
      } else if (t.startsWith("## ")) {
        flush(); h2 = t.stripPrefix("## ").trim
        cur.append(line).append('\n')
      } else if (t.startsWith("# ")) {
        flush(); h1 = t.stripPrefix("# ").trim; h2 = ""
        cur.append(line).append('\n')
      } else cur.append(line).append('\n')
    }
    flush()
    val pieces = sections.result().flatMap { case (body, pg, s1, s2) =>
      tokenWindows(tokenizer.tokenize(body), budget, overlap)
        .map(w => (tokenizer.detokenize(w.toIndexedSeq), pg, s1, s2))
    }
    val total = pieces.length
    pieces.zipWithIndex.map { case ((text, pg, s1, s2), i) =>
      Piece(text, pg, s1, s2, i, total)
    }
  }

  // ---- DataFrame wrappers -------------------------------------------

  /** Explode a markdown column into chunk rows: the source column is
    * replaced by piece columns text/page/h1/h2/chunk_index/
    * total_chunks; all other columns carry through. Uses the custom
    * [[graft.functions.SplitMarkdownGenerator]] Catalyst Generator —
    * pieces stream out of eval with no intermediate array. */
  def chunkMarkdown(df: DataFrame, mdCol: String,
      budget: Int = DefaultBudget, overlap: Int = DefaultOverlap)
      : DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val gen = ColumnBridge.column(
      graft.functions.SplitMarkdownGenerator(
        ColumnBridge.expression(col(mdCol)), budget, overlap))
    df.select(df.columns.filterNot(_ == mdCol).map(col).toSeq
      :+ gen.as(Seq("text", "page", "h1", "h2", "chunk_index",
        "total_chunks")): _*)
  }

  /** C8: passage-prefix enrichment + deterministic ids
    * (`producer_graph.py:92-113`): prepend "passage: [DOC_xxxx] ",
    * add md5 entry hash and chunk_id. */
  def enrich(df: DataFrame, docIdCol: String, textCol: String): DataFrame = {
    import graft.functions.Hashing
    val prefixed = concat(lit("passage: ["), col(docIdCol), lit("] "),
      col(textCol))
    df.withColumn("chunk", prefixed)
      .withColumn("hash", md5(col("chunk")))
      .withColumn("chunk_id", Hashing.chunkId(col(docIdCol), col("chunk")))
  }
}
