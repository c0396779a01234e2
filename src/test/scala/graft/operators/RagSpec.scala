package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** RAG query-side semantics (SURVEY §3.1 steps 4-6): hit dedup (D1),
  * context assembly (R1), citation rewrite (R3). */
class RagSpec extends SparkTestBase {

  private lazy val hits = {
    import spark.implicits._
    Seq(
      (1L, "c1", "passage: [DOC_AAAAAAAA] first chunk text", "f1.md", 1),
      (1L, "c2", "passage: [DOC_AAAAAAAA] first chunk text", "f1.md", 2),
      (1L, "c3", "passage: [DOC_BBBBBBBB] second chunk text", "f2.md", 3),
      (2L, "c4", "passage: [DOC_CCCCCCCC] other doc text", "f3.md", 1))
      .toDF("qid", "chunk_id", "chunk", "source_file", "rnk")
  }

  test("dedupHits drops duplicate chunk text keeping best rank (D1)") {
    val out = Rag.dedupHits(hits)
    assert(out.count() === 3)
    assert(out.filter(col("qid") === 1L && col("rnk") === 2).count() === 0)
  }

  test("assembleContext numbers sources in rank order with separators (R1)") {
    val ctx = Rag.assembleContext(Rag.dedupHits(hits))
      .orderBy("qid").collect()
    val c1 = ctx(0).getAs[String]("context")
    assert(c1 ===
      "[source1] first chunk text\n---\n[source2] second chunk text")
    assert(ctx(0).getAs[Seq[String]]("sources") === Seq("f1.md", "f2.md"))
    assert(ctx(1).getAs[String]("context") === "[source1] other doc text")
  }

  test("rewriteCitations links [sourceN] and (sourceN) tags (R3)") {
    import spark.implicits._
    val answers = Seq(
      (1L, "See [source1] and also (source2).",
        Seq("f1.md", "f2.md")))
      .toDF("qid", "answer", "sources")
    val got = Rag.rewriteCitations(answers, "http://api")
      .select("answer_linked").head().getString(0)
    assert(got === "See [source1](http://api/files/f1.md) and also " +
      "[source2](http://api/files/f2.md).")
  }

  test("retrieve end-to-end on a toy embedded index") {
    import spark.implicits._
    val index = Seq(
      ("c1", "passage: [DOC_AAAAAAAA] apples and pears", "f1.md",
        Array(1.0f, 0.0f)),
      ("c2", "passage: [DOC_BBBBBBBB] trains and planes", "f2.md",
        Array(0.0f, 1.0f)))
      .toDF("chunk_id", "chunk", "source_file", "embedding")
    val queries = Seq((7L, Array(0.9f, 0.1f))).toDF("qid", "embedding")
    val out = Rag.retrieve(index, queries, k = 1).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("context") === "[source1] apples and pears")
  }

  test("a chunk id that two files share is one citation per kept hit") {
    import spark.implicits._
    // identical documents f1.md and f2.md share chunk c1 (same id, same
    // passage, same vector); c2 is the next-best chunk
    val index = Seq(
      ("c1", "passage: [DOC_AAAAAAAA] apples and pears", "f2.md",
        Array(1.0f, 0.0f)),
      ("c1", "passage: [DOC_AAAAAAAA] apples and pears", "f1.md",
        Array(1.0f, 0.0f)),
      ("c2", "passage: [DOC_BBBBBBBB] trains and planes", "f3.md",
        Array(0.6f, 0.8f)),
      ("c3", "passage: [DOC_CCCCCCCC] suns and moons", "f4.md",
        Array(0.0f, 1.0f)))
      .toDF("chunk_id", "chunk", "source_file", "embedding")
    val queries = Seq((7L, Array(1.0f, 0.1f))).toDF("qid", "embedding")
    // the top 3 rows are c1@f1.md, c1@f2.md (a tie, broken on the
    // file) and c2; the duplicate passage keeps its best rank only
    val out = Rag.retrieve(index, queries, k = 3).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Seq[String]]("sources") === Seq("f1.md", "f3.md"))
    assert(out(0).getAs[String]("context") ===
      "[source1] apples and pears\n---\n[source2] trains and planes")
    val reranked = Rag.retrieveReranked(index,
      Seq((7L, "q", Array(1.0f, 0.1f))).toDF("qid", "qtext", "embedding"),
      new Rerank.RerankService {
        def score(batch: Seq[(String, String)]): Seq[Double] =
          batch.map(_ => 1.0)
      }, kCandidates = 3, k = 3).collect()
    assert(reranked(0).getAs[Seq[String]]("sources").size === 2)
  }

  test("retrieveReranked: the precision stage re-orders recall's " +
      "candidates and the assembly tail stays intact") {
    import spark.implicits._
    val index = Seq(
      ("c1", "passage: [DOC_AAAAAAAA] apples and pears", "f1.md",
        Array(1.0f, 0.0f)),
      ("c2", "passage: [DOC_BBBBBBBB] trains and planes", "f2.md",
        Array(0.9f, 0.1f)),
      ("c3", "passage: [DOC_CCCCCCCC] suns and moons", "f3.md",
        Array(0.8f, 0.2f)))
      .toDF("chunk_id", "chunk", "source_file", "embedding")
    val queries = Seq((7L, "fruit question", Array(1.0f, 0.0f)))
      .toDF("qid", "qtext", "embedding")
    // a scorer that inverts the dense order: last candidate wins
    val invert = new Rerank.RerankService {
      def score(batch: Seq[(String, String)]): Seq[Double] =
        batch.map { case (_, p) => -p.length.toDouble +
          (if (p.contains("moons")) 100.0 else 0.0) }
    }
    val out = Rag.retrieveReranked(index, queries, invert,
      kCandidates = 3, k = 2).collect()
    assert(out.length === 1)
    val ctx = out(0).getAs[String]("context")
    assert(ctx.startsWith("[source1] suns and moons"),
      s"reranker must own the final order, got: $ctx")
    assert(ctx.contains("\n---\n"), "assembly separators intact")
  }

  test("retrieveCompressed (int8 shortlist + exact rerank) assembles " +
      "the same contexts as the float retrieve") {
    import spark.implicits._
    import graft.queries.Tables
    // a realistic index: the testdata embeddings as chunks
    val index = Tables.embeddings(spark, sf)
      .select(concat(lit("c"), col("vec_id")).as("chunk_id"),
        concat(lit("passage "), col("vec_id")).as("chunk"),
        concat(lit("f"), col("vec_id") % 7, lit(".md")).as("source_file"),
        col("embedding"))
    val queries = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = Rag.retrieve(index, queries, k = 4)
      .collect().map(_.toSeq).toSet
    val compressed = Rag.retrieveCompressed(index, queries, k = 4,
        rerank = 10)
      .collect().map(_.toSeq).toSet
    assert(compressed === exact)
  }

  test("directAnswer baseline skips retrieval (R4)") {
    import spark.implicits._
    val qs = Seq((1L, "what is an apple?")).toDF("qid", "question")
    val out = Rag.directAnswer(qs, "question", Rag.EchoGenerator)
      .collect()
    assert(out.length === 1)
    assert(out(0).schema.fieldNames.toSeq === Seq("qid", "question", "answer"))
    assert(out(0).getString(2).nonEmpty)
  }

  test("EchoGenerator is deterministic (R2 stub)") {
    val a = Rag.EchoGenerator.generate(Seq("ctx one", "ctx two"))
    val b = Rag.EchoGenerator.generate(Seq("ctx one", "ctx two"))
    assert(a === b)
    assert(a.forall(_.contains("[source1]")))
  }
}
