package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Hashing, TextFunctions}

/** Ingestion pipeline operators (SURVEY §2.1/§2.2/§3.2): discovery
  * scan with anti-join dedup, extension routing, front-matter parsing,
  * the canonical 10-key metadata projection, quality-gated tier
  * routing, and the parquet archive sink.
  *
  * The reference's Redis/DuckDB worker machinery (WAL, sentinel,
  * claims, backpressure) intentionally has no operator here — Spark's
  * lineage + atomic job commit supply those semantics (SURVEY §3.2).
  */
object Ingest {

  /** The canonical chunk schema (SURVEY §1.3, normalized to exactly
    * these keys at `text_processor.py:237-244`). */
  val ChunkSchema: StructType = StructType(Seq(
    StructField("chunk_id", StringType),
    StructField("document_id", StringType),
    StructField("source_file", StringType),
    StructField("trace_id", StringType),
    StructField("chunk", StringType),
    StructField("type", StringType),
    StructField("engine", StringType),
    StructField("hash", StringType),
    StructField("page", IntegerType),
    StructField("chunk_index", IntegerType),
    StructField("total_chunks", IntegerType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("metadata", MapType(StringType, StringType)),
  ))

  /** S1: staging-directory discovery — binaryFile scan + left-anti
    * join against already-tracked files (J5 dedup,
    * `job_service.py:61-88`: re-ingestion allowed after terminal
    * states). */
  def discover(spark: SparkSession, stagingDir: String,
      lifecycle: DataFrame): DataFrame = {
    val files = spark.read.format("binaryFile").load(stagingDir)
      .select(col("path"), col("length"), col("content"))
      .withColumn("source_file", element_at(split(col("path"), "/"), -1))
    val active = lifecycle
      .filter(!col("status").isin("INGEST_FAILED", "INGEST_SUCCESS"))
      .select(col("source_file"))
    files.join(broadcast(active), Seq("source_file"), "left_anti")
  }

  /** F15: extension routing — the handler chain
    * (`gatekeeper_logic.py:31-38`) collapsed to one CASE column. */
  def routeByExtension(pathCol: Column): Column = {
    val ext = lower(element_at(split(pathCol, "\\."), -1))
    when(ext.isin("md", "markdown"), "markdown")
      .when(ext.isin("txt", "text"), "text")
      .when(ext.isin("html", "htm"), "html")
      .when(ext === "pdf", "pdf")
      .when(ext.isin("mp3", "wav", "m4a", "aac", "flac"), "audio")
      .when(ext.isin("mp4", "mov", "mkv"), "video")
      .otherwise("unsupported")
  }

  /** S6: YAML front-matter split — `---`-delimited header parsed into
    * a MAP<STRING,STRING> of open keys (`text_processor.py:33-45`),
    * body returned separately. Simple `key: value` lines only, like
    * the reference's loader. */
  private val frontMatterUdf = udf { (text: String) =>
    if (text == null) (Map.empty[String, String], "")
    else {
      val lines = text.split("\n", -1)
      if (lines.length >= 2 && lines(0).trim == "---") {
        val end = lines.indexWhere(_.trim == "---", 1)
        if (end > 0) {
          val meta = lines.slice(1, end).flatMap { l =>
            l.split(":", 2) match {
              case Array(k, v) if k.trim.nonEmpty =>
                Some(k.trim -> v.trim)
              case _ => None
            }
          }.toMap
          (meta, lines.drop(end + 1).mkString("\n"))
        } else (Map.empty[String, String], text)
      } else (Map.empty[String, String], text)
    }
  }

  def parseFrontMatter(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_fm", frontMatterUdf(col(textCol)))
      .withColumn("metadata", col("_fm._1"))
      .withColumn("body", col("_fm._2"))
      .drop("_fm")

  /** F12: normalize to the fixed 10-key projection, defaulting missing
    * fields (`text_processor.py:237-244`) — the canonical `select` with
    * `coalesce` defaults. */
  def normalizeMetadata(df: DataFrame): DataFrame = {
    def d(name: String, default: Column, typ: DataType): Column =
      (if (df.columns.contains(name)) coalesce(col(name), default)
       else default).cast(typ).as(name)
    df.select(
      d("chunk", lit(""), StringType),
      d("chunk_id", lit(""), StringType),
      d("source_file", lit("unknown"), StringType),
      d("document_id", lit(""), StringType),
      d("trace_id", lit(""), StringType),
      d("type", lit("unknown"), StringType),
      d("hash", lit(""), StringType),
      d("engine", lit("unknown"), StringType),
      d("page", lit(-1), IntegerType),
      d("chunk_index", lit(0), IntegerType))
  }

  /** F13: the 7-field vector payload projection with page coerced
    * int-or−1 (`consumer_utils.py:55-66`), then `extra` columns. */
  def vectorPayload(df: DataFrame, extra: Column*): DataFrame =
    df.select(Seq(col("chunk_id").as("id"),
      col("source_file"), col("type"), col("engine"), col("hash"),
      col("chunk_index"),
      when(col("page").cast("string").rlike("^\\d+$"),
        col("page").cast("int")).otherwise(-1).as("page")) ++ extra: _*)

  /** S4 charset sniffing (`processors/document_processor.py:21-37` —
    * the reference charset-detects with charset_normalizer BEFORE any
    * parsing; feeding mis-decoded bytes downstream would mojibake
    * before `fix_mojibake` could see it). Detection order:
    *  1. BOM (UTF-8 / UTF-16LE/BE / UTF-32LE/BE) — authoritative;
    *  2. an HTML/XML `charset=`/`encoding=` declaration in the first
    *     1 KiB (read as latin-1, which is bytewise total);
    *  3. strict UTF-8 validation — valid UTF-8 is essentially never
    *     produced by other encodings by accident;
    *  4. windows-1252 fallback (the superset of latin-1 real
    *     documents mean when they are not UTF-8). */
  private[operators] def detectCharset(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length == 0) "UTF-8"
    else if (bytes.length >= 4 && bytes(0) == 0xFF.toByte &&
      bytes(1) == 0xFE.toByte && bytes(2) == 0 && bytes(3) == 0) "UTF-32LE"
    else if (bytes.length >= 4 && bytes(0) == 0 && bytes(1) == 0 &&
      bytes(2) == 0xFE.toByte && bytes(3) == 0xFF.toByte) "UTF-32BE"
    else if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte) "UTF-8"
    else if (bytes.length >= 2 && bytes(0) == 0xFF.toByte &&
      bytes(1) == 0xFE.toByte) "UTF-16LE"
    else if (bytes.length >= 2 && bytes(0) == 0xFE.toByte &&
      bytes(1) == 0xFF.toByte) "UTF-16BE"
    else {
      val head = new String(bytes, 0, math.min(bytes.length, 1024),
        "ISO-8859-1")
      val decl = "(?i)(?:charset|encoding)\\s*=\\s*[\"']?([A-Za-z0-9_.:\\-]+)"
        .r.findFirstMatchIn(head).map(_.group(1))
      decl.filter(java.nio.charset.Charset.isSupported) match {
        case Some(cs) => java.nio.charset.Charset.forName(cs).name()
        case None =>
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); "UTF-8" }
          catch { case _: java.nio.charset.CharacterCodingException =>
            "windows-1252" }
      }
    }
  }

  private def stripBom(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s

  private val charsetDecodeUdf = udf { (bytes: Array[Byte]) =>
    if (bytes == null) ("UTF-8", "")
    else {
      val cs = detectCharset(bytes)
      (cs, stripBom(new String(bytes, cs)))
    }
  }

  /** S4: decode a binary text/HTML column with charset sniffing —
    * appends `charset` (the detected name) and `text` (the decoded,
    * BOM-stripped string). This is the step between the binaryFile
    * scan and [[htmlToText]]/front-matter parsing. */
  def decodeText(df: DataFrame, bytesCol: String): DataFrame =
    df.withColumn("_dec", charsetDecodeUdf(col(bytesCol)))
      .withColumn("charset", col("_dec._1"))
      .withColumn("text", col("_dec._2"))
      .drop("_dec")

  /** S4: HTML → text without an HTML library: strip script/style
    * blocks, comments, then all tags; decode the common entities;
    * collapse blank runs (the reference uses BeautifulSoup `get_text`
    * + blank-line collapse, `processors/document_processor.py:21-37`).
    * Pure regexp_replace chain — codegen'd, no UDF. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</\\1>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val entities = Seq("&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<",
      "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'")
      .foldLeft(noTags) { case (c, (e, r)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(e), r) }
    trim(regexp_replace(entities, "\\s+", " "))
  }

  /** C6 routing predicate: the 3-tier extraction short-circuit — text
    * that passes the quality gate bypasses the expensive LLM tier
    * (`gatekeeper_logic.py:348-365`; SURVEY §4). The external LLM call
    * itself stays behind [[NormalizerService]]. */
  def tierRouting(textCol: Column): Column =
    when(!TextFunctions.isBadOcr(textCol), lit("passthrough"))
      .otherwise(lit("llm_normalize"))

  /** External-service normalization boundary (SURVEY §2.14): the
    * engine is hermetic — implementations must be deterministic in
    * tests. Applied per-partition for batch amortization. */
  trait NormalizerService extends Serializable {
    def normalize(batch: Seq[String]): Seq[String]
  }

  /** Deterministic stand-in for the supervisor LLM: trims whitespace
    * runs and guarantees a markdown header — shape-preserving, test
    * friendly. */
  object IdentityNormalizer extends NormalizerService {
    def normalize(batch: Seq[String]): Seq[String] =
      batch.map(_.replaceAll("[ \\t]+", " ").trim)
  }

  /** C6: quality-gated LLM normalization as a partition-batched
    * operator — rows whose text passes the quality gate bypass the
    * service entirely (the reference's 3-tier short-circuit,
    * `gatekeeper_logic.py:348-365`); the rest flow through the
    * NormalizerService in micro-batches of `batchSize` (the
    * reference's page-batch default 5, `shared/defaults.py:91`) via a
    * lazily-grouped iterator — constant memory per partition, never a
    * whole-partition buffer. Appends `normalized` and `norm_engine`
    * columns. */
  def normalize(df: DataFrame, textCol: String,
      service: NormalizerService, batchSize: Int = 5): DataFrame = {
    val routed = df.withColumn("_tier", tierRouting(col(textCol)))
    val schema = StructType(routed.schema.fields.toSeq
      .filterNot(_.name == "_tier") :+
      StructField("normalized", StringType) :+
      StructField("norm_engine", StringType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val textIdx = routed.schema.fieldIndex(textCol)
    val tierIdx = routed.schema.fieldIndex("_tier")
    routed.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val (toLlm, passthrough) =
          batch.partition(_.getString(tierIdx) == "llm_normalize")
        val normalized = if (toLlm.nonEmpty)
          service.normalize(toLlm.map(_.getString(textIdx))) else Seq.empty
        val llmOut = toLlm.iterator.zip(normalized.iterator).map {
          case (r, n) => org.apache.spark.sql.Row.fromSeq(
            r.toSeq.patch(tierIdx, Nil, 1) :+ n :+ "llm")
        }
        val passOut = passthrough.iterator.map { r =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.patch(tierIdx, Nil, 1) :+ r.getString(textIdx)
              :+ "passthrough")
        }
        passOut ++ llmOut
      }
    }(enc)
  }

  /** End-to-end markdown ingest: front-matter → doc ids → hierarchical
    * chunking → enrichment → normalized chunk rows. `docs` needs
    * (source_file, text). */
  def ingestMarkdown(docs: DataFrame): DataFrame = {
    val parsed = parseFrontMatter(docs, "text")
      .withColumn("document_id", Hashing.docId(col("text")))
      .withColumn("type", lit("markdown"))
      .withColumn("engine", lit("graft"))
    val chunked = Chunker.chunkMarkdown(
      parsed.select(col("source_file"), col("document_id"), col("type"),
        col("engine"), col("metadata"), col("body")), "body")
    Chunker.enrich(chunked, "document_id", "text")
      .drop("text", "h1", "h2")
  }

  /** S8: the parquet archive sink (`parquet_service.py:196-200`) —
    * partitioned by a bucket of document_id so a 100 TB archive still
    * writes and prunes in parallel. */
  def writeArchive(chunks: DataFrame, outDir: String,
      buckets: Int = 64): Unit =
    chunks
      .withColumn("doc_bucket",
        pmod(xxhash64(col("document_id")), lit(buckets)))
      .write.mode("overwrite")
      .partitionBy("doc_bucket")
      .parquet(outDir)
}
