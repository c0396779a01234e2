package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions

/** RAG query-side operators (SURVEY §2.12 / §3.1): batch retrieval →
  * context assembly → citation rewrite. The LLM generation leg stays
  * behind [[Generator]] (external-service boundary, deterministic stub
  * in tests — SURVEY §7 hard part 3); everything else is native
  * column work.
  */
object Rag {

  /** D1: drop exact-duplicate chunk text among each query's top-k,
    * keeping the best (lowest) rank — window + min(rank)
    * (`chat/chroma_chat.py:22-44`). */
  def dedupHits(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid"), col("chunk"))
    hits.withColumn("_best", min(col("rnk")).over(w))
      .filter(col("rnk") === col("_best"))
      .drop("_best")
  }

  /** R1: context assembly — extract the `[DOC_hex]` anchor, strip the
    * `passage: ` prefix, number hits `[sourceN]` in rank order, join
    * with `---` separators (`chroma_chat.py:27-44`). One row per qid:
    * (qid, context, sources ARRAY<STRING>). */
  def assembleContext(hits: DataFrame): DataFrame = {
    val anchored = hits
      .withColumn("doc_anchor",
        regexp_extract(col("chunk"), "\\[(DOC_[0-9A-F]{8})\\]", 1))
      .withColumn("body",
        regexp_replace(col("chunk"),
          "^passage: \\[DOC_[0-9A-F]{8}\\] ", ""))
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
    anchored
      .withColumn("n", row_number().over(w))
      .withColumn("numbered",
        concat(lit("[source"), col("n"), lit("] "), col("body")))
      .groupBy(col("qid"))
      .agg(
        concat_ws("\n---\n", array_sort(collect_list(
          struct(col("n"), col("numbered")))).getField("numbered"))
          .as("context"),
        array_sort(collect_list(struct(col("n"), col("source_file"))))
          .getField("source_file").as("sources"))
  }

  /** R3: citation post-map — rewrite `[sourceN]` / `(sourceN)` tags
    * into markdown links against the file-serving base URL, using the
    * per-query source list (`chroma_chat.py:80-89`,
    * `utils/chat_utils.py:24-78`). */
  def rewriteCitations(answers: DataFrame, baseUrl: String): DataFrame =
    answers.withColumn("answer_linked",
      aggregate(
        zip_with(col("sources"),
          sequence(lit(1), size(col("sources"))),
          (src, n) => struct(n.as("n"), src.as("src"))),
        col("answer"),
        (acc, x) => regexp_replace(
          regexp_replace(acc,
            concat(lit("\\[source"), x.getField("n"), lit("\\]")),
            concat(lit("[source"), x.getField("n"), lit("]("),
              lit(baseUrl), lit("/files/"), x.getField("src"), lit(")"))),
          concat(lit("\\(source"), x.getField("n"), lit("\\)")),
          concat(lit("[source"), x.getField("n"), lit("]("),
            lit(baseUrl), lit("/files/"), x.getField("src"), lit(")")))))

  /** External LLM boundary (R2): batch generation over assembled
    * contexts. Implementations run per-partition with connection
    * reuse; the test stub is deterministic. */
  trait Generator extends Serializable {
    def generate(prompts: Seq[String]): Seq[String]
  }

  /** Deterministic stub: echoes a grounded-shaped answer citing
    * source1 — lets the full pipeline run hermetically. */
  object EchoGenerator extends Generator {
    def generate(prompts: Seq[String]): Seq[String] =
      prompts.map(p => s"Answer based on context [source1]. " +
        s"(${p.length} chars of context)")
  }

  /** R2: batch grounded generation — one Generator per partition
    * (connection reuse), prompts flowing through in micro-batches of
    * `batchSize` via a lazily-grouped iterator: constant memory per
    * partition, never a whole-partition buffer (the reference itself
    * micro-batches its external calls at 5/20,
    * `shared/defaults.py:55,81`). Appends `answer` to the context
    * frame. */
  def generate(contexts: DataFrame, generator: Generator,
      batchSize: Int = 20): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      contexts.schema.fields :+
        org.apache.spark.sql.types.StructField("answer",
          org.apache.spark.sql.types.StringType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val ctxIdx = contexts.schema.fieldIndex("context")
    contexts.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val answers = generator.generate(batch.map(_.getString(ctxIdx)))
        batch.iterator.zip(answers.iterator).map { case (r, a) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ a)
        }
      }
    }(enc)
  }

  /** R4: the retrieval-free baseline — same generator, prompt is the
    * bare question (the reference's hallucination-comparison path,
    * `architecture.md:78-89`). */
  def directAnswer(queries: DataFrame, questionCol: String,
      generator: Generator): DataFrame =
    generate(queries.withColumn("context", col(questionCol)), generator)
      .drop("context")

  /** Full batch RAG slice: queries (qid, qvec) against an embedded
    * chunk index (chunk_id, chunk, source_file, embedding) → top-k →
    * dedup → context (→ generation happens outside, via Generator).
    * Retrieval runs the bounded-heap formulation — k rows per
    * (partition, query) in the shuffle, never the full scored
    * product. */
  def retrieve(index: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val hits = SimilaritySearch.bruteForceTopKHeap(
      queries, "qid", index, "chunk_id", "embedding", k)
      .withColumnRenamed("cid", "chunk_id")
    val joined = hits.join(
      index.select(col("chunk_id"), col("chunk"), col("source_file")),
      Seq("chunk_id"))
    assembleContext(dedupHits(joined))
  }

  /** Retrieve → RERANK → assemble: the production two-stage serving
    * cascade — a wide dense recall stage (`kCandidates` per query)
    * feeding the cross-encoder precision stage
    * ([[Rerank.rerankTopK]]), with [[retrieve]]'s exact dedup +
    * context-assembly tail. `queries` carries (qid, qtext,
    * embedding): the embedding drives recall, the raw text rides to
    * the reranker. Only `kCandidates` rows per query ever reach the
    * expensive scorer — the cascade's contract at corpus scale. */
  def retrieveReranked(index: DataFrame, queries: DataFrame,
      service: Rerank.RerankService, kCandidates: Int,
      k: Int): DataFrame = {
    val cands = SimilaritySearch.bruteForceTopKHeap(
        queries.select(col("qid"), col("embedding")), "qid",
        index, "chunk_id", "embedding", kCandidates)
      .withColumnRenamed("cid", "chunk_id")
      .drop("rnk") // stage-1 rank; the reranker assigns the final one
      .join(index.select(col("chunk_id"), col("chunk"),
        col("source_file")), Seq("chunk_id"))
      .join(queries.select(col("qid"), col("qtext")), Seq("qid"))
    val reranked = Rerank.rerankTopK(cands, "qid", "qtext",
      "chunk_id", "chunk", service, k)
    assembleContext(dedupHits(reranked))
  }

  /** [[retrieve]] over a COMPRESSED index scan: the int8-quantized
    * kernel ([[SimilaritySearch.quantizedTopK]], recall ≈ 0.99 on
    * the testdata embeddings — RecallBench) shortlists `rerank·k`
    * chunks reading a quarter of the bytes, then only the shortlist
    * re-joins float vectors for the exact cosine re-rank — so the
    * context assembly downstream is bit-identical to [[retrieve]]
    * whenever the true top-k survives the shortlist (RagSpec pins
    * equality on the testdata corpus). At 100 TB this quarters the
    * scan bandwidth of every retrieval. */
  def retrieveCompressed(index: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 10): DataFrame = {
    val shortlist = SimilaritySearch.quantizedTopK(
      queries, "qid", index, "chunk_id", "embedding", k * rerank)
    val hits = ProductQuantization.exactRerank(shortlist, queries,
      "qid", index, "chunk_id", "embedding", k)
      .withColumnRenamed("cid", "chunk_id")
    val joined = hits.join(
      index.select(col("chunk_id"), col("chunk"), col("source_file")),
      Seq("chunk_id"))
    assembleContext(dedupHits(joined))
  }
}
