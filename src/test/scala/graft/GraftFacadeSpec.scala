package graft

import org.apache.spark.sql.functions._

/** The public facade: migrate-from-the-reference usage end to end. */
class GraftFacadeSpec extends SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("doc"), $"doc_id", lit(".md")).as("source_file"),
        $"text")
      .limit(50)
  }

  test("ingest -> embed -> search round trip") {
    implicit val s = spark
    val chunks = Graft.ingestMarkdown(docs)
    val typed = Graft.asChunks(chunks)
    assert(typed.head().chunk_id.startsWith("DOC_"))
    val index = Graft.withMockEmbeddings(chunks, 16)
    val queries = index.limit(2)
      .select(col("chunk_index").cast("long").as("qid"),
        col("embedding"))
      .dropDuplicates("qid")
    val hits = Graft.search(index, queries, k = 3)
    assert(hits.count() > 0)
    assert(hits.columns.contains("context"))
  }

  test("index write/read with count verification") {
    withTempDir("gidx") { d =>
      val dir = d.toString
      val index = Graft.withMockEmbeddings(Graft.ingestMarkdown(docs), 8)
      Graft.writeIndex(index, dir)
      assert(operators.Index.count(spark, dir) === index.count())
    }
  }

  test("textFeatures appends the analysis columns") {
    val out = Graft.textFeatures(docs, "text")
    assert(Seq("n_tokens", "uniq_ratio", "quality", "lang_guess",
      "fingerprint").forall(out.columns.contains))
    assert(out.count() === 50)
  }

  test("r5 facade entries: sparseEmbed / lmSurprisal / dsirWeights / " +
      "fuzzyMatches are wired") {
    val sparse = Graft.sparseEmbed(docs, "source_file", "text")
    assert(Seq("n_terms", "indices", "values")
      .forall(sparse.columns.contains))
    assert(sparse.count() === 50)
    assert(Graft.lmSurprisal(docs, "source_file", "text").count() > 0)
    assert(Graft.dsirWeights(docs, "source_file", "text",
      length(col("text")) % 2 === 0).count() === 50)
    assert(Graft.fuzzyMatches(docs, "text").columns.contains("dist"))
  }

  test("r11 facade entries: fuzzyJoin / marginMining / " +
      "marginMiningAnn are wired") {
    import spark.implicits._
    val a = Seq((1L, "wrench set"), (2L, "bolt"))
      .toDF("id", "name")
    val b = Seq((10L, "wrinch set"), (11L, "nut"))
      .toDF("id", "name")
    val fj = Graft.fuzzyJoin(a, "id", "name", b, "id", "name")
    assert(fj.columns.toSeq === Seq("lid", "rid", "dist"))
    assert(fj.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((1L, 10L)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val l = emb.filter(col("vec_id") < 50)
    val r = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
    val mm = Graft.marginMining(l, "vec_id", r, "vec_id",
      "embedding")
    assert(mm.columns.toSeq === Seq("lid", "rid", "score", "margin"))
    assert(mm.count() > 0)
    val cents = operators.SimilaritySearch.labelCentroids(emb,
      "label", "embedding")
    val ma = Graft.marginMiningAnn(l, "vec_id", r, "vec_id",
      "embedding", cents)
    assert(ma.columns.toSeq === Seq("lid", "rid", "score", "margin"))
    assert(ma.count() > 0)
  }

  test("r8 facade entries: sketches, profiling, and seeded graph " +
      "propagation are wired") {
    import spark.implicits._
    val vals = (0 until 300).map(i => (s"g${i % 2}", i)).toDF("g", "v")
    val de = Graft.distinctEstimate(vals, "g", "v", k = 64)
    assert(de.columns.toSeq === Seq("g", "kmv_n", "kmv_est"))
    assert(de.count() === 2)
    assert(Graft.sketchSetOps(vals, "g", "v", k = 64).count() === 1)
    val fe = Graft.frequencyEstimates(vals, "v", vals.limit(5), "v")
    assert(fe.columns.contains("cms_est") && fe.count() === 5)
    val pc = Graft.profileColumns(vals, Seq("g", "v"))
    assert(pc.columns.toSeq ===
      Seq("column_name", "non_null", "nulls", "distinct_est"))
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val hd = Graft.hopDistance(edges, Seq("a").toDF("node"), 3)
    assert(hd.count() === 3)
    assert(Graft.communities(edges).count() === 3)
  }

  test("r12 facade entries: passAtK / consensusVote / " +
      "excessLossSelect / chiSquaredIndependence / " +
      "fuzzyBlockingStats are wired") {
    import spark.implicits._
    val cand = Seq((1L, "x", true), (1L, "x", true), (1L, "y", false),
      (2L, "a", false), (2L, "a", false)).toDF("p", "a", "ok")
    val pk = Graft.passAtK(cand, "p", "ok", Seq(1, 2))
    assert(pk.columns.toSeq ===
      Seq("problem", "k", "n", "c", "pass_at_k"))
    assert(pk.count() === 4)
    val cv = Graft.consensusVote(cand, "p", "a", "ok")
    assert(cv.columns.contains("consensus_answer") && cv.count() === 2)
    val sel = Graft.excessLossSelect(
      Seq((1L, 2.0, 1.0), (2L, 0.5, 1.0)).toDF("id", "l", "r"),
      "id", "l", "r", rho = 0.5)
    assert(sel.columns.contains("selected") && sel.count() === 2)
    val chi = Graft.chiSquaredIndependence(
      Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
        .toDF("r", "c"), "r", "c", crit = 3.841)
    assert(chi.columns.toSeq === Seq("n", "n_rows", "n_cols", "dof",
      "x2", "crit", "reject"))
    assert(chi.count() === 1)
    val bs = Graft.fuzzyBlockingStats(docs, "text")
    assert(bs.columns.toSeq === Seq("n_names", "df_cap",
      "n_residual", "residual_share"))
    assert(bs.count() === 1)
  }

  test("r12.2 facade entries: passAtKDedupAware / " +
      "chiSquaredIndependenceBy / excessThresholdFromCounts are " +
      "wired") {
    import spark.implicits._
    val cand = Seq((1L, true), (1L, false), (2L, false), (2L, false))
      .toDF("p", "ok")
    val cl = Seq((1L, "A"), (2L, "A")).toDF("problem", "cluster")
    val pk = Graft.passAtKDedupAware(cand, "p", "ok", cl, Seq(1))
    assert(pk.columns.toSeq === Seq("k", "n_problems", "n_clusters",
      "macro_naive", "macro_dedup"))
    assert(pk.count() === 1)
    val chi = Graft.chiSquaredIndependenceBy(
      Seq(("v1", "a", "x"), ("v1", "b", "y"), ("v2", "a", "x"),
        ("v2", "b", "x")).toDF("v", "r", "c"),
      "v", "r", "c", crit = 3.841)
    assert(chi.columns.toSeq === Seq("variant", "n", "n_rows",
      "n_cols", "dof", "x2", "w", "crit", "reject"))
    assert(chi.count() === 2)
    val thr = Graft.excessThresholdFromCounts(
      Seq((1.0, 3L), (2.0, 1L)).toDF("excess", "cnt"),
      "excess", "cnt", rho = 0.25)
    assert(thr.columns.toSeq ===
      Seq("threshold", "k_target", "n_total"))
    assert(thr.collect().head.getDouble(0) === 2.0)
    val adv = Graft.groupNormalizedAdvantage(
      Seq((1L, 0L, 0.0), (1L, 1L, 1.0)).toDF("p", "s", "r"),
      "p", "s", "r")
    assert(adv.columns.toSeq === Seq("problem", "sample", "reward",
      "n", "mean", "std", "advantage", "degenerate"))
    assert(adv.count() === 2)
    val bon = Graft.bestOfNCurve(
      Seq((1L, 0L, 0.1), (1L, 1L, 0.9)).toDF("p", "s", "r"),
      "p", "s", "r", Seq(1, 2))
    assert(bon.columns.toSeq ===
      Seq("problem", "n", "n_samples", "best_of_n"))
    assert(bon.count() === 2)
  }
}
