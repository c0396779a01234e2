package graft

/** Plan-shape regression guard: the physical properties the scale
  * story depends on (pushdown, pruning, broadcast dims, top-k
  * physical operator, codegen'd custom expressions) must survive
  * refactors. String-level checks on the formatted executed plan. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q01: ship-date filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") &&
      p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q01: scan schema is pruned to the referenced columns") {
    val p = plan("q01_pricing_summary")
    assert(!p.contains("l_orderkey"),
      "pricing summary must not read join keys it never uses")
  }

  test("q04: dimension joins broadcast") {
    val p = plan("q04_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q02: order-by + limit plans as TakeOrderedAndProject") {
    assert(plan("q02_top_brand_revenue").contains("TakeOrderedAndProject"))
  }

  test("q31: murmur-free dot-product kernel stays in the plan (DotF64)") {
    val p = plan("q31_knn_bruteforce")
    assert(p.toLowerCase.contains("dotf64"))
  }

  test("q57/q58: banded near-dup paths never plan a cartesian or " +
      "broadcast nested-loop pair scan") {
    for (q <- Seq("q57_simhash_neardups", "q58_embedding_neardups")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q85: the global threshold reuses the per-part aggregation's " +
      "exchange — one lineitem scan total (r5)") {
    val df = SparkEntry.queries("q85_important_parts")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
      || p.contains("TableCacheQueryStage"),
      s"threshold subtree must not re-scan lineitem:\n${p.take(2000)}")
  }

  test("q116: sparse-embed plan is hash-aggregate shaped — no " +
      "cartesian, no nested loop (r5)") {
    val p = plan("q116_sparse_bm25")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("r6 additions: paragraph dedup, repetition suite, bloom " +
      "decontamination, containment — no cartesian, no nested loop") {
    for (q <- Seq("q136_paragraph_dedup", "q137_gopher_repetition",
        "q138_bloom_decontaminate", "q139_containment_pairs",
        "q142_cluster_balanced", "q146_novelty_by_source")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // q142's centroid assignment IS a broadcast cross join of the
      // provably tiny centroid frame (the audited q43 device) — every
      // other r6 plan must be free of nested loops entirely
      if (q != "q142_cluster_balanced")
        assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("r6 second batch (q147-q161): no cartesian anywhere; the " +
      "map-only and hash-join-only plans carry no nested loop at all") {
    for (q <- Seq("q147_ann_recall_sweep", "q149_winnowed_fingerprints",
        "q153_boilerplate_lines", "q154_training_order",
        "q155_mmr_diversify", "q156_prf_expansion", "q157_bleu_eval",
        "q159_matryoshka_recall", "q160_distillation_pairs",
        "q161_heavy_hitters")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // q147/q155/q159: scalar/centroid/truth broadcasts (the audited
      // q43/q101 devices); q154/q156/q160: BM25's one-row stats
      // broadcast — every OTHER plan must be nested-loop-free
      if (Seq("q153_boilerplate_lines", "q157_bleu_eval",
          "q161_heavy_hitters").contains(q))
        assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q157: per-pair BLEU never shuffles STATS — the only " +
      "exchanges are the presentation sort and the compute fan-out") {
    val p = plan("q157_bleu_eval")
    // r12.2: a deliberate base-scan repartition fans the expression-
    // dense n-gram stage out past single-split inputs
    // (GraftSession.fanOutForCompute), so the plan carries exactly
    // one range exchange (ORDER BY) + at most one repartition, and
    // still no aggregate/join exchange anywhere
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"q157 must not shuffle stats:\n" +
      p.take(1500))
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p.take(800))
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"),
      "per-pair BLEU must stay map-only")
  }

  test("q138: the bloom screen is the native might_contain expression " +
      "applied BEFORE the verify join's exchange") {
    val p = plan("q138_bloom_decontaminate")
    assert(p.contains("might_contain"),
      "bloom prefilter must be the codegen'd native expression")
    val filterPos = p.indexOf("might_contain")
    // the filter sits below (later in the printed tree than) the
    // semi-join that consumes it
    val joinPos = p.indexOf("LeftSemi")
    assert(joinPos >= 0 && filterPos > joinPos,
      "screen must feed the semi join from the map side")
  }

  test("q34/q56: exact pair scans run as block-tiled equi-joins — " +
      "no cartesian, no nested-loop, no broadcast of either side") {
    for (q <- Seq("q34_cosine_top_pairs", "q56_simhash_pairs")) {
      // pre-AQE physical plan: AQE may legitimately downgrade the
      // tile join to a broadcast at toy SF based on measured sizes,
      // but the *static* plan must never rely on a side fitting in
      // memory — that is the 100 TB contract.
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.sparkPlan.toString
      assert(p.contains("TakeOrderedAndProject"), q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("BroadcastExchange"), q)
    }
  }

  test("q28: no cartesian product anywhere in the dedup plan") {
    assert(!plan("q28_jaccard_pairs").contains("CartesianProduct"))
  }

  test("q69: correlated EXISTS/NOT-EXISTS decorrelate to hash " +
      "semi/anti joins, never a nested-loop subquery") {
    // static plan: the semi/anti joins have an equi-key
    // (l_orderkey) with the supplier inequality as a residual, so
    // they must never degrade to BNLJ/cartesian even off-AQE
    val p = SparkEntry.queries("q69_waiting_suppliers")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(p.contains("LeftSemi"))
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q72: the only nested-loop surface is corpus x broadcast " +
      "(query tables); encode/codebook joins are hash joins") {
    val p = plan("q72_ann_pq")
    assert(!p.contains("CartesianProduct"))
    // ADC scan: corpus stays partitioned, the per-query lookup
    // tables broadcast (like q31's compute surface)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    // bounded-heap top-k shape survives
    assert(p.contains("ObjectHashAggregate"))
  }

  test("IVF top-k, cell assignment and IVF k-NN lists (corpusAssign " +
      "1 and 2) rank without a Window node") {
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", 8)
    val frames = Seq(
      "ivfTopK" -> SimilaritySearch.ivfTopK(qs, "vec_id", emb,
        "vec_id", "embedding", cents, k = 4),
      "assignCells" -> SimilaritySearch.assignCells(emb, "vec_id",
        "embedding", cents),
      "ivfKnnLists ca=1" -> SimilaritySearch.ivfKnnLists(qs, "vec_id",
        emb, "vec_id", "embedding", cents, k = 4),
      "ivfKnnLists ca=2" -> SimilaritySearch.ivfKnnLists(qs, "vec_id",
        emb, "vec_id", "embedding", cents, k = 4, corpusAssign = 2))
    for ((name, df) <- frames) {
      df.collect() // finalize the adaptive plan
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$name plans a window:\n$p")
    }
  }
}
