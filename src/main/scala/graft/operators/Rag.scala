package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{dotF64, l2Norm}

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

  /** R1: context assembly over ranked hits (qid, chunk, source_file,
    * rnk) — one row per qid: (qid, context, sources ARRAY<STRING>).
    * Per query, in rank order: exact-duplicate chunk text is dropped
    * keeping the best rank (D1), the `passage: [DOC_hex] ` prefix is
    * stripped, hits are numbered `[sourceN]` and joined with `---`
    * separators (`chroma_chat.py:22-44`). One aggregation on qid, no
    * window: behind [[retrieve]]'s top-k, which is partitioned on qid
    * already, it plans no exchange of its own. */
  def assembleContext(hits: DataFrame): DataFrame = {
    val ranked = hits.groupBy(col("qid")).agg(array_sort(collect_list(
      struct(col("rnk"), col("chunk"), col("source_file")))).as("_hits"))
    // each passage at its first (best-ranked) occurrence
    val kept = filter(col("_hits"), (x, i) => !exists(
      slice(col("_hits"), lit(1), i), y => y("chunk") <=> x("chunk")))
    ranked.select(col("qid"), kept.as("_kept")).select(col("qid"),
      concat_ws("\n---\n", transform(col("_kept"), (x, i) =>
        concat(lit("[source"), i + 1, lit("] "), regexp_replace(x("chunk"),
          "^passage: \\[DOC_[0-9A-F]{8}\\] ", "")))).as("context"),
      transform(col("_kept"), x => x("source_file")).as("sources"))
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

  /** Full batch RAG slice: queries (qid, embedding) against an
    * embedded chunk index (chunk_id, chunk, source_file, embedding) →
    * top-k chunk ROWS → [[assembleContext]] (→ generation happens
    * outside, via Generator). The top-k ranks index rows by (score
    * desc, chunk_id, source_file, chunk) and carries each hit's
    * passage and file through the ranking, so a chunk id that two
    * files share is two candidate rows, never a join fan-out. */
  def retrieve(index: DataFrame, queries: DataFrame, k: Int): DataFrame =
    assembleContext(hits(index, queries, k))

  /** The top-k chunk rows of each query, passage and file carried:
    * (qid, chunk_id, source_file, chunk, score, rnk). */
  private def hits(index: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    SimilaritySearch.bruteForceTopKRows(queries, "qid", index,
        "chunk_id", "embedding", Seq("source_file", "chunk"), k)
      .withColumnRenamed("cid", "chunk_id")

  /** Retrieve → RERANK → assemble: the production two-stage serving
    * cascade — a wide dense recall stage (`kCandidates` per query)
    * feeding the cross-encoder precision stage
    * ([[Rerank.rerankTopK]]), with [[retrieve]]'s context-assembly
    * tail. `queries` carries (qid, qtext, embedding): the embedding
    * drives recall, the raw text rides to the reranker. Only
    * `kCandidates` rows per query ever reach the expensive scorer —
    * the cascade's contract at corpus scale. */
  def retrieveReranked(index: DataFrame, queries: DataFrame,
      service: Rerank.RerankService, kCandidates: Int,
      k: Int): DataFrame = {
    val cands = hits(index, queries.select(col("qid"), col("embedding")),
        kCandidates)
      .drop("rnk") // stage-1 rank; the reranker assigns the final one
      .join(queries.select(col("qid"), col("qtext")), Seq("qid"))
    assembleContext(Rerank.rerankTopK(cands, "qid", "qtext",
      "chunk_id", "chunk", service, k))
  }

  /** [[retrieve]] over a COMPRESSED index scan: the int8-quantized
    * kernel ([[SimilaritySearch.quantizedTopK]], recall ≈ 0.99 on
    * the testdata embeddings — RecallBench) shortlists `rerank·k`
    * chunk ids reading a quarter of the bytes, then only the
    * shortlisted rows re-read their float vectors (with passage and
    * file) for the exact cosine re-rank, ranked as [[retrieve]] ranks
    * — so the context assembly downstream is bit-identical to
    * [[retrieve]] whenever the true top-k survives the shortlist
    * (RagSpec pins equality on the testdata corpus). At 100 TB this
    * quarters the scan bandwidth of every retrieval. */
  def retrieveCompressed(index: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 10): DataFrame = {
    val shortlist = SimilaritySearch.quantizedTopK(
        queries, "qid", index, "chunk_id", "embedding", k * rerank)
      .select(col("qid"), col("cid").as("chunk_id")).distinct()
    val q = queries.filter(col("embedding").isNotNull)
      .select(col("qid").cast("long").as("qid"), col("embedding").as("qvec"),
        l2Norm(col("embedding")).as("qnorm"))
    val scored = shortlist
      .join(index.select("chunk_id", "source_file", "chunk", "embedding")
        .filter(col("embedding").isNotNull), "chunk_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("chunk_id"), col("source_file"), col("chunk"),
        (dotF64(col("qvec"), col("embedding")) /
          (col("qnorm") * l2Norm(col("embedding")))).as("score"))
    assembleContext(graft.plans.CosineTopK.rank(scored, k,
      Seq("chunk_id", "source_file", "chunk")))
  }
}
