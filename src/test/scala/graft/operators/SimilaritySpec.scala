package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.functions.{TopCells, VectorFunctions}

/** Retrieval-rank invariants (SURVEY §5: "top-k ordering (T1)") +
  * IVF recall against the brute-force oracle. */
class SimilaritySpec extends SparkTestBase {

  test("mmrDiversify picks the diverse candidate over the redundant " +
      "one once relevance is discounted by similarity-to-selected") {
    import spark.implicits._
    // A and B are exact duplicates (sim 1.0); C is diverse (sim 0.6)
    // with rel 0.6. Pure top-3 is A, B, C; MMR at λ=0.3 must select
    // A, then C (0.3·0.6 − 0.7·0.6 = −0.24 beats B's 0.3 − 0.7 =
    // −0.4), then B.
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(1.0f, 0.0f)),
      (12L, Array(0.6f, 0.8f)))
      .toDF("id", "vec")
    val shortlist = Seq(
      (1L, 10L, 1.0), (1L, 11L, 1.0), (1L, 12L, 0.6))
      .toDF("qid", "cid", "score")
    val got = SimilaritySearch.mmrDiversify(shortlist, corpus, "id",
        "vec", k = 3, lambda = 0.3)
      .orderBy("rnk").collect()
    assert(got.map(_.getAs[Long]("cid")).toSeq === Seq(10L, 12L, 11L))
    val mmr = got.map(_.getAs[Double]("mmr_score"))
    assert(math.abs(mmr(0) - 0.3) <= 1e-6)          // 0.3·1 − 0.7·0
    assert(math.abs(mmr(1) - (-0.24)) <= 1e-6)      // diverse C
    assert(math.abs(mmr(2) - (-0.4)) <= 1e-6)       // redundant B
    assert(got.map(_.getAs[Int]("rnk")).toSeq === Seq(1, 2, 3))
  }

  test("bruteForceTopK returns score-ordered neighbors (T1)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val got = SimilaritySearch.bruteForceTopK(
      queries, "id", corpus, "id", "vec", k = 3)
      .orderBy("rnk").collect()
    assert(got.map(_.getAs[Long]("cid")).toSeq === Seq(1L, 2L, 3L))
    val scores = got.map(_.getAs[Double]("score"))
    assert(math.abs(scores(0) - 1.0) <= 1e-12)
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("assignCells puts every vector in its nearest centroid's " +
      "cell, exactly one cell per vector") {
    import spark.implicits._
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.9f)),
      (3L, Array(0.6f, 0.4f))).toDF("vec_id", "embedding")
    val got = SimilaritySearch.assignCells(vecs, "vec_id",
        "embedding", cents)
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("cosine kernel matches hand computation") {
    import spark.implicits._
    val r = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")),
        VectorFunctions.l2Norm(col("a")))
      .head()
    assert(math.abs(r.getDouble(0) - 24.0 / 25.0) <= 1e-12)
    assert(math.abs(r.getDouble(1) - 5.0) <= 1e-12)
  }

  test("l2Normalize yields unit vectors") {
    import spark.implicits._
    val n = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("v")
      .select(VectorFunctions.l2Norm(
        VectorFunctions.l2Normalize(col("v")))).head().getDouble(0)
    assert(math.abs(n - 1.0) <= 1e-12)
  }

  test("banded hyperplane-LSH near-dup mining equals the exhaustive " +
      "scan on planted twins") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val twins = emb.select((col("vec_id") + 1000000).as("vec_id"),
      concat(array(element_at(col("embedding"), 1) + lit(0.02)),
        slice(col("embedding"), lit(2), size(col("embedding")) - 1))
        .as("embedding"))
    val corpus = emb.unionByName(twins)
    val exact = SimilaritySearch.cosinePairsAbove(
      corpus, "vec_id", "embedding", threshold = 0.999)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // both the guaranteed (origin-hyperplane) and the centered
    // (pruning-optimized, q58) configurations must be recall-exact
    for (center <- Seq(false, true)) {
      val banded = SimilaritySearch.cosineNearDupsBanded(
        corpus, "vec_id", "embedding", threshold = 0.999,
        center = center)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty)
      assert(banded === exact, s"center=$center")
    }
  }

  test("hyperplane signatures are deterministic and near-equal for " +
      "near-parallel vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextGaussian())
    val twin = base.clone(); twin(0) += 0.02
    val far = Array.fill(16)(rnd.nextGaussian())
    val df = Seq((1L, base), (2L, twin), (3L, far), (4L, base))
      .toDF("id", "vec")
      .select(col("id"),
        SimilaritySearch.hyperplaneSignature(col("vec")).as("sig"))
    val sigs = df.orderBy("id").collect().map(_.getLong(1))
    assert(sigs(0) === sigs(3))                   // deterministic
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) <= 5)  // near dup
  }

  test("decimal-sum centroid mean agrees with the order-fixed " +
      "sequential fold (spec-level cross-check of the r5 swap)") {
    // The registered q32/q43/q72 paths now use the exact decimal-sum
    // mean (partial-aggregating, bounded per-group state). This pins
    // that it computes the same centroids the previous order-fixed
    // collect_list fold did, to within the DECIMAL(18,9) per-element
    // rounding (|err| <= n * 5e-10 / n = 5e-10 on the mean, plus the
    // fold's own double accumulation drift).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dec = SimilaritySearch.labelCentroids(emb, "label", "embedding")
      .select(col("cell_id"), posexplode(col("centroid")))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    val fold = emb
      .select(col("label").as("cell_id"), col("vec_id").as("_ord"),
        posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("cell_id"), col("pos"))
      .agg((aggregate(
        transform(array_sort(collect_list(struct(col("_ord"), col("col")))),
          x => x.getField("col")),
        lit(0.0), (acc, x) => acc + x) / count(lit(1))).as("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    assert(dec.keySet === fold.keySet)
    val worst = dec.map { case (k, v) => math.abs(v - fold(k)) }.max
    assert(worst <= 1e-8, s"decimal mean diverged from fold: $worst")
  }

  test("k-means IVF: deterministic centroids, recall@10 improves " +
      "with nProbe and beats a coarse floor") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(
      queries, "vec_id", emb, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val cents = SimilaritySearch.kmeansCentroids(
      emb, "vec_id", "embedding", k = 8, maxIter = 5)
    // determinism: a second run yields identical centroids
    val cents2 = SimilaritySearch.kmeansCentroids(
      emb, "vec_id", "embedding", k = 8, maxIter = 5)
    val c1 = cents.orderBy("cell_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val c2 = cents2.orderBy("cell_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(c1.toSeq === c2.toSeq)
    def recallAt(nProbe: Int): Double = {
      val approx = SimilaritySearch.ivfTopK(
        queries, "vec_id", emb, "vec_id", "embedding", cents,
        k = 10, nProbe = nProbe)
        .select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    assert(r4 >= r1, s"recall must not degrade with nProbe: $r1 -> $r4")
    assert(r4 > 0.5, s"k-means IVF recall@10 too low: $r4")
  }

  test("IVF top-k achieves high recall vs brute force on testdata") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(
      queries, "vec_id", emb, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val cents = SimilaritySearch.labelCentroids(emb, "label", "embedding")
    val approx = SimilaritySearch.ivfTopK(
      queries, "vec_id", emb, "vec_id", "embedding", cents,
      k = 10, nProbe = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.5, s"IVF recall $recall too low")
  }

  test("DotI8 matches exact integer math and stays in codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1 to 50).map { i =>
      val a = Array.fill(96)((rnd.nextInt(255) - 127).toByte)
      val b = Array.fill(96)((rnd.nextInt(255) - 127).toByte)
      (i, a, b)
    }
    val got = rows.toDF("i", "a", "b")
      .select(col("i"), VectorFunctions.dotI8(col("a"), col("b")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, a, b) =>
      val want = a.zip(b).map { case (x, y) => x.toLong * y.toLong }.sum
      assert(got(i) === want, s"row $i")
    }
  }

  test("quantize: scale recovers magnitudes, components clamp to " +
      "[-127,127], deterministic") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5, -1.0, 0.25, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0))).toDF("id", "vec")
    val q = SimilaritySearch.quantize(df, "id", "vec")
      .orderBy("id").collect()
    val (qv, scale) = (q(0).getAs[Array[Byte]](1), q(0).getDouble(2))
    assert(qv.toSeq === Seq[Byte](64, -127, 32, 0))
    assert(math.abs(scale - 1.0 / 127.0) < 1e-15)
    // all-zero vector: scale 0, zero norm, never NaN
    assert(q(1).getDouble(2) === 0.0 && q(1).getDouble(3) === 0.0)
    val again = SimilaritySearch.quantize(df, "id", "vec")
      .orderBy("id").collect()
    assert(again(0).getAs[Array[Byte]](1).toSeq === qv.toSeq)
  }

  test("quantizedTopK recall@10 vs the float scan is high on the " +
      "embeddings corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilaritySearch.bruteForceTopK(
      queries, "vec_id", emb, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilaritySearch.quantizedTopK(
      queries, "vec_id", emb, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@10 $recall below 0.9")
  }

  test("coarseCellCount follows sqrt(n) inside its clamps") {
    assert(SimilaritySearch.coarseCellCount(100L) === 16)   // min clamp
    assert(SimilaritySearch.coarseCellCount(10000L) === 100)
    assert(SimilaritySearch.coarseCellCount(10001L) === 101) // ceil
    assert(SimilaritySearch.coarseCellCount(1L << 40) === 65536) // max
  }

  test("trainingSample is a deterministic bounded subset") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val s1 = SimilaritySearch.trainingSample(emb, "vec_id", 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val s2 = SimilaritySearch.trainingSample(emb, "vec_id", 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2)                        // stable across runs
    assert(s1.nonEmpty && s1.size < n)       // strictly smaller
    assert(s1.size <= 140, s"sample ${s1.size} far above target 100")
    // passthrough when the corpus already fits the budget
    assert(SimilaritySearch.trainingSample(emb, "vec_id", n.toInt + 1)
      .count() === n)
  }

  test("sampled k-means still yields k deterministic centroids") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = SimilaritySearch.kmeansCentroids(
      emb, "vec_id", "embedding", k = 8, maxIter = 2, maxTrain = 100)
    val b = SimilaritySearch.kmeansCentroids(
      emb, "vec_id", "embedding", k = 8, maxIter = 2, maxTrain = 100)
    assert(a.count() === 8)
    assert(a.orderBy("cell_id").collect().map(_.toSeq).toSeq ===
      b.orderBy("cell_id").collect().map(_.toSeq).toSeq)
  }

  test("semanticDecontaminate: a corpus copy of an eval vector is " +
      "flagged at ~1.0; distant vectors are not; plan broadcasts " +
      "the eval side only") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    def vec() = Array.fill(16)(r.nextGaussian().toFloat)
    val evalSet = (0L until 5L).map(i => (i, vec()))
    // corpus: id 100 duplicates eval 3, id 101 is a small
    // perturbation of eval 1, the rest are fresh
    val corpus = Seq(
      (100L, evalSet(3)._2.clone()),
      (101L, evalSet(1)._2.map(x => x + 0.01f))) ++
      (102L until 140L).map(i => (i, vec()))
    val out = SimilaritySearch.semanticDecontaminate(
      corpus.toDF("vec_id", "embedding"), "vec_id",
      evalSet.toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.95)
      .collect().map(r2 => r2.getLong(0) ->
        ((r2.getLong(1), r2.getDouble(2), r2.getBoolean(3)))).toMap
    assert(out(100L)._1 === 3L && out(100L)._3,
      s"copy not flagged: ${out(100L)}")
    assert(out(100L)._2 > 0.9999)
    assert(out(101L)._1 === 1L && out(101L)._3)
    // every corpus row reports exactly one nearest eval row
    assert(out.size === 40)
    // 16-dim gaussians: fresh vectors almost never hit 0.95
    assert(out.count(_._2._3) <= 4)
    val plan = SimilaritySearch.semanticDecontaminate(
      corpus.toDF("vec_id", "embedding"), "vec_id",
      evalSet.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("marginMining: the margin demotes a hub the raw cosine " +
      "prefers, pairs are mutual-best, threshold filters") {
    import spark.implicits._
    // Unit-circle 2-d vectors; cosine = cos(angle difference).
    //   left x (0 deg):  raw-cosine best is hub h (cos .900) but
    //     h is z's darling (cos .990), so h's k-NN mass is high and
    //     margin picks y (cos .850) instead;
    //   left z pairs with h (mutual, margin 1.0).
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val left = Seq((0L, v(0.0)), (2L, v(-33.952)))
      .toDF("vec_id", "embedding")
    val right = Seq((1L, v(31.788)), (3L, v(-25.842)))
      .toDF("vec_id", "embedding") // 1 = y, 3 = h (the hub)
    val out = SimilaritySearch.marginMining(left, "vec_id",
        right, "vec_id", "embedding", k = 1,
        marginThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(out.map(p => (p._1, p._2)).toSet === Set((0L, 1L),
      (2L, 3L)), s"hub demoted, mutual pairs: ${out.toSeq}")
    val xy = out.find(_._1 == 0L).get
    // raw cosine preferred the hub (cos(x,h) ~= .900 > .850) yet
    // the emitted partner is y with margin ~ .850/((.900+.850)/2)
    assert(xy._3 < 0.9 && math.abs(xy._4 - 0.9714) < 0.01)
    // a higher floor drops the sub-threshold pair, keeps the 1.0 one
    val strict = SimilaritySearch.marginMining(left, "vec_id",
      right, "vec_id", "embedding", k = 1, marginThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strict.toSet === Set((2L, 3L)))
  }

  test("marginMiningShortlist: IVF-shortlist margins recover the " +
      "exact mutual-best pairs with high recall, agreeing scores") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val l = emb.filter(col("vec_id") % 2 === 0)
    val r = emb.filter(col("vec_id") % 2 === 1)
    val exact = SimilaritySearch.marginMining(l, "vec_id",
        r, "vec_id", "embedding", k = 4, marginThreshold = 1.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getDouble(2), x.getDouble(3)))).toMap
    val cand = SimilaritySearch.parityMarginCandidates(emb,
      "vec_id", "embedding")
    val short = SimilaritySearch.marginMiningShortlist(l, "vec_id",
        r, "vec_id", "embedding", cand, k = 4,
        marginThreshold = 1.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getDouble(2), x.getDouble(3)))).toMap
    assert(exact.nonEmpty, "exact form must emit pairs at sf0.001")
    val hit = short.keySet.intersect(exact.keySet)
    val recall = hit.size.toDouble / exact.size
    info(f"shortlist recall vs exact: $recall%.3f " +
      s"(${hit.size}/${exact.size}, shortlist ${short.size})")
    // measured 0.987 at sf0.001 (152/154) for the multi-modal
    // union (√n-cell sample-quantizer IVF alone 0.584, NN-descent
    // k=12×3 alone 0.909 — the r11 sweep in NOTES); the two devices
    // miss DIFFERENT pairs, which is why the union is registered
    assert(recall >= 0.95,
      f"union-shortlist recall $recall%.3f below 0.95")
    // on a recovered pair the raw cosine is the same number; the
    // margin may differ (shortlist-local top-k mass) but only up:
    // removing non-top candidates can only shrink the mass.
    hit.foreach { k =>
      assert(short(k)._1 === exact(k)._1,
        s"score drift on $k: ${short(k)._1} vs ${exact(k)._1}")
      assert(short(k)._2 >= exact(k)._2 - 1e-12,
        s"shortlist margin below exact on $k")
    }
  }

  test("coarseCellCountScaled is the exact integer ceil((n^2)^(1/3))" +
      " with clamps — no libm pow at a ceiling boundary") {
    import SimilaritySearch.coarseCellCountScaled
    // brute-force agreement on small n: nc = min{c : c^3 >= n^2}
    for (n <- 0L to 5000L by 7L) {
      val sq = BigInt(n) * BigInt(n)
      var c = BigInt(0)
      while (c * c * c < sq) c += 1
      val want = math.max(16, math.min(262144, c.toInt))
      assert(coarseCellCountScaled(n) === want, s"n=$n")
    }
    // exact boundaries: n = k^3 gives n^2 = k^6, cbrt exactly k^2
    for (k <- Seq(3L, 10L, 59L, 100L)) {
      val n = k * k * k
      val want = math.max(16, math.min(262144, (k * k).toInt))
      assert(coarseCellCountScaled(n) === want, s"cube n=$n")
      assert(coarseCellCountScaled(n + 1) === math.max(16,
        math.min(262144, (k * k + 1).toInt)), s"cube+1 n=${n + 1}")
    }
    // n^2 overflows Long past ~3e9 rows: BigInt path + max clamp
    assert(coarseCellCountScaled(4_000_000_000L) === 262144)
    assert(coarseCellCountScaled(Long.MaxValue / 2) === 262144)
    assert(coarseCellCountScaled(0L) === 16)
  }

  test("centroid-table guard: cells × (dim + 2) × 8 B above 1 GiB " +
      "fails from the counts alone, naming cells and dim") {
    import SimilaritySearch.{MaxCellTableBytes, requireCellTableFits}
    // the 262,144-cell cap at dim 1,024: a 2.15 GB table, never built
    val e = intercept[IllegalArgumentException](
      requireCellTableFits(262144, 1024))
    assert(e.getMessage.contains("cells = 262144"), e.getMessage)
    assert(e.getMessage.contains("dim = 1024"), e.getMessage)
    assert(e.getMessage.contains("2151677952 B"), e.getMessage)
    requireCellTableFits(65536, 1024)
    requireCellTableFits(262144, 128)
    requireCellTableFits(0, 0)
    // exact at the boundary: 1,024 cells × (131,070 + 2) × 8 B = 1 GiB
    assert(BigInt(1024) * (131070 + 2) * 8 === BigInt(MaxCellTableBytes))
    requireCellTableFits(1024, 131070)
    intercept[IllegalArgumentException](requireCellTableFits(1024, 131071))
    intercept[IllegalArgumentException](
      requireCellTableFits(Long.MaxValue, Long.MaxValue))
  }

  test("probeCountScaled is the exact integer min{p : p^6 >= a*n} " +
      "with clamps — the q331 recall-holding probe rule") {
    import SimilaritySearch.probeCountScaled
    // brute-force agreement across n and both registered a values
    for (a <- Seq(64, 729); n <- 0L to 100000L by 131L) {
      val target = BigInt(a) * BigInt(n)
      var p = BigInt(1)
      while (p < 64 && p * p * p * p * p * p < target) p += 1
      val want = math.max(4, p.toInt)
      assert(probeCountScaled(n, a) === want, s"a=$a n=$n")
    }
    // exact sixth-power boundaries: a*n = p^6 must give exactly p
    for (p <- Seq(5L, 8L, 16L, 32L)) {
      val n = p * p * p * p * p * p / 64
      assert(probeCountScaled(n, a = 64) === math.max(4, p.toInt),
        s"boundary p=$p")
    }
    // clamps: tiny n floors at 4, huge n ceils at 64; no overflow
    // at any Long n (the target rides BigInt)
    assert(probeCountScaled(0L) === 4)
    assert(probeCountScaled(1L) === 4)
    assert(probeCountScaled(Long.MaxValue) === 64)
    // the operating-point constants: the frozen q331/q332 device
    assert(probeCountScaled(500L, a = 64) === 6)   // sf0.01
    assert(probeCountScaled(2000L, a = 64) === 8)  // sf0.1
    assert(probeCountScaled(20000L, a = 64) === 11) // sf1
    assert(probeCountScaled(200000L, a = 64) === 16) // sf10
  }

  test("ivfKnnLists corpus multi-assignment: duplicate (qid, cid) " +
      "pairs through shared cells are deduped before ranking, so " +
      "no neighbor occupies two of the k slots") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 2 === 0)
    val c = emb.filter(col("vec_id") % 2 === 1)
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", SimilaritySearch.coarseCellCountScaled(
        emb.count()))
    val lists = SimilaritySearch.ivfKnnLists(q, "vec_id", c,
      "vec_id", "embedding", cents, k = 8, nProbe = 6,
      corpusAssign = 2).cache()
    try {
      // (a) no duplicate (qid, cid) pair anywhere in the lists
      assert(lists.count() ===
        lists.select("qid", "cid").distinct().count())
      // (b) per qid: ranks are 1..m contiguous and scores are
      // non-increasing in rank
      val bad = lists.groupBy("qid").agg(
        count(lit(1)).as("m"), max(col("rnk")).as("mx"),
        min(col("rnk")).as("mn")).filter(
        col("mx") =!= col("m") || col("mn") =!= 1 ||
          col("m") > 8).count()
      assert(bad === 0L)
      // (c) multi-assignment widens candidate coverage: every pair
      // the single-assignment scan ranks is still reachable (the
      // deduped ca=2 fine scan saw a superset of ca=1's pairs)
      val ca1 = SimilaritySearch.ivfKnnLists(q, "vec_id", c,
        "vec_id", "embedding", cents, k = 8, nProbe = 6)
      assert(ca1.count() <= lists.count())
    } finally lists.unpersist()
  }

  test("annCandidateRecallGate: verdict-style audit of the " +
      "production shortlist against sampled exact brute-force truth") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nEven = emb.filter(col("vec_id") % 2 === 0).count()
    val nOdd = emb.filter(col("vec_id") % 2 === 1).count()
    val rows = SimilaritySearch.annCandidateRecallGate(emb,
        "vec_id", "embedding", k = 4, queryCap = 512,
        threshold = 0.9)
      .orderBy("direction").collect()
    assert(rows.length === 2)
    val e2o = rows(0); val o2e = rows(1)
    assert(e2o.getAs[String]("direction") === "even_to_odd")
    // at sf0.001 both sides are under the 512 cap: the md5 gate is
    // the identity, so the audit covers EVERY query exactly once
    assert(e2o.getAs[Long]("n_queries") === nEven)
    assert(o2e.getAs[Long]("n_queries") === nOdd)
    assert(e2o.getAs[Long]("n_exact") ===
      nEven * math.min(4L, nOdd))
    // measured r13: 0.956 / 0.963 at sf0.001 — the verdict holds
    // with ≥ 0.05 margin at the verified operating point
    rows.foreach { r =>
      val recall = r.getAs[Long]("n_hit").toDouble /
        r.getAs[Long]("n_exact")
      info(f"${r.getAs[String]("direction")} recall $recall%.3f")
      assert(r.getAs[Boolean]("recall_ok"), f"recall $recall%.3f")
      assert(recall >= 0.9 && recall <= 1.0)
    }
    // the verdict is LIVE, not vacuous: an unattainable threshold
    // flips it false on the same counts
    val strict = SimilaritySearch.annCandidateRecallGate(emb,
        "vec_id", "embedding", k = 4, queryCap = 512,
        threshold = 0.9999).collect()
    assert(strict.forall(!_.getAs[Boolean]("recall_ok")))
  }

  test("annCandidateRecallGate frees its candidate checkpoint " +
      "(r13 verdict item 8): the returned frame is an eager bare " +
      "LogicalRDD and the corpus-sized candidate blocks do not " +
      "survive the call") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SimilaritySearch.annCandidateRecallGate(emb,
      "vec_id", "embedding", k = 4, queryCap = 64)
    // (a) eager materialization: the result must be its own
    // checkpoint (a bare LogicalRDD), never a plan that still
    // references the freed candidate blocks
    assert(out.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    // (b) post-call block count: new persisted entries are the
    // knnGraph per-round checkpoints (graphIters = 3, awaiting
    // ContextCleaner GC) plus the 2-row verdict frame — the
    // candidate checkpoint was freed via the bridge, so WITHOUT the
    // free this reads one higher
    val newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(newIds.size <= 4, s"expected <= 4 surviving persisted " +
      s"RDDs (3 knnGraph rounds + verdict), got ${newIds.size}")
    // the freed candidate blocks were truly dead: the verdict frame
    // still reads
    assert(out.count() === 2L)
  }

  test("IVF and NN-descent operators validate k, nProbe and " +
      "corpusAssign at entry, naming the parameter") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 4)
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", 4)
    def rejects(param: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(s"$param must be >= 1"), e.getMessage)
    }
    rejects("nProbe")(SimilaritySearch.ivfTopK(qs, "vec_id", emb,
      "vec_id", "embedding", cents, k = 3, nProbe = 0))
    rejects("k")(SimilaritySearch.ivfTopK(qs, "vec_id", emb,
      "vec_id", "embedding", cents, k = 0))
    rejects("nProbe")(SimilaritySearch.ivfKnnLists(qs, "vec_id", emb,
      "vec_id", "embedding", cents, k = 3, nProbe = 0))
    rejects("corpusAssign")(SimilaritySearch.ivfKnnLists(qs, "vec_id",
      emb, "vec_id", "embedding", cents, k = 3, corpusAssign = 0))
    rejects("nProbe")(SimilaritySearch.parityMarginCandidates(emb,
      "vec_id", "embedding", nProbe = 0))
    rejects("corpusAssign")(SimilaritySearch.parityMarginCandidates(emb,
      "vec_id", "embedding", corpusAssign = 0))
    rejects("k")(NnDescent.knnGraph(emb, "vec_id", "embedding", k = 0))
  }

  test("IVF, cell assignment and NN-descent reject a non-integral " +
      "id or cell_id column, naming it") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("sid", col("vec_id").cast("string"))
    val qs = emb.filter(col("vec_id") < 4)
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", 4)
    def rejects(column: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(s"'$column'"), e.getMessage)
    }
    rejects("sid")(SimilaritySearch.ivfTopK(qs, "sid", emb, "vec_id",
      "embedding", cents, k = 3))
    rejects("sid")(SimilaritySearch.ivfKnnLists(qs, "vec_id", emb,
      "sid", "embedding", cents, k = 3))
    rejects("sid")(SimilaritySearch.assignCells(emb, "sid",
      "embedding", cents))
    rejects("cell_id")(SimilaritySearch.assignCells(emb, "vec_id",
      "embedding", cents.withColumn("cell_id",
        col("cell_id").cast("string"))))
    rejects("sid")(NnDescent.knnGraph(emb, "sid", "embedding"))
    rejects("sid")(SimilaritySearch.parityMarginCandidates(emb, "sid",
      "embedding"))
  }

  test("NULL vectors are filtered out before cell assignment: a " +
      "NULL-vector corpus row is never a hit, a NULL-vector query " +
      "returns no rows") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", 4)
    def nullAt(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.withColumn("embedding", when(col("vec_id") =!= id,
        col("embedding")))
    // vec 3 is its own best hit: with its vector NULL it must vanish
    val corpus = nullAt(emb, 3L)
    val qs = nullAt(emb.filter(col("vec_id") < 6), 5L)
    val qIds = qs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(qIds.contains(3L) && qIds.contains(5L))
    for (lists <- Seq(
        SimilaritySearch.ivfTopK(qs, "vec_id", corpus, "vec_id",
          "embedding", cents, k = 4, nProbe = 4),
        SimilaritySearch.ivfKnnLists(qs, "vec_id", corpus, "vec_id",
          "embedding", cents, k = 4, nProbe = 4, corpusAssign = 2))) {
      val hits = lists.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!hits.exists(_._2 == 3L), "NULL-vector corpus row hit")
      assert(!hits.exists(_._1 == 5L), "NULL-vector query answered")
      // nProbe = 4 of 4 cells: every other query is answered
      assert(hits.map(_._1).toSet === qIds - 5L)
    }
    val assigned = SimilaritySearch.assignCells(corpus, "vec_id",
      "embedding", cents).select("vec_id").collect().map(_.getLong(0))
    assert(assigned.length === emb.count() - 1)
    assert(!assigned.contains(3L))
  }

  /** The previous k-means body, kept as the bitwise reference for
    * [[SimilaritySearch.kmeansCentroids]]: window seeding, the
    * TopCells assignment against the packed broadcast row, then
    * posexplode → per-(cell, pos) DECIMAL(18,9) sum / count →
    * collect_list reassembly, and a left_anti keep for empty cells. */
  private def referenceKmeans(df: DataFrame, idCol: String,
      vecCol: String, k: Int, maxIter: Int): DataFrame = {
    val v = df.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("v"))
    var cents = v.orderBy(col("_id")).limit(k)
      .withColumn("cell_id",
        row_number().over(Window.orderBy(col("_id"))) - 1)
      .select(col("cell_id"), col("v").as("centroid"))
    for (_ <- 0 until maxIter) {
      val packed = cents.agg(array_sort(collect_list(struct(
        col("cell_id").cast("long").as("cell_id"),
        col("centroid").cast("array<double>").as("centroid"),
        VectorFunctions.l2Norm(col("centroid")).as("cnorm")))).as("_cells"))
      val updated = v.crossJoin(broadcast(packed))
        .withColumn("cell_id", element_at(
          TopCells.of(col("v"), col("_cells"), 1), 1).cast("int"))
        .select(col("cell_id"), posexplode(col("v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), x => x.getField("m")).as("centroid"))
      val kept = cents.join(updated.select(col("cell_id")),
        Seq("cell_id"), "left_anti")
      cents = updated.unionByName(kept).localCheckpoint()
    }
    cents
  }

  /** cell_id → the centroid's raw IEEE bits (None for a NULL element). */
  private def centroidBits(df: DataFrame): Map[Int, Seq[Option[Long]]] =
    df.collect().map(r => r.getInt(0) ->
      r.getSeq[java.lang.Double](1).map(d => Option(d).map(x =>
        java.lang.Double.doubleToRawLongBits(x)))).toMap

  private def assertKmeansMatchesReference(df: DataFrame, k: Int,
      maxIter: Int, vecCol: String = "embedding"): Unit = {
    val got = centroidBits(SimilaritySearch.kmeansCentroids(df, "vec_id",
      vecCol, k, maxIter))
    val want = centroidBits(referenceKmeans(df, "vec_id", vecCol, k,
      maxIter))
    assert(got.keySet === want.keySet)
    want.foreach { case (c, bits) =>
      assert(got(c) === bits, s"cell $c differs from the reference")
    }
  }

  private def vecFrame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("kmeansCentroids is bitwise the DataFrame round on the testdata " +
      "embeddings, as FLOAT and as DOUBLE input, and at maxIter = 0") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assertKmeansMatchesReference(emb, k = 8, maxIter = 5)
    assertKmeansMatchesReference(emb.withColumn("embedding",
      col("embedding").cast("array<double>")), k = 8, maxIter = 5)
    assertKmeansMatchesReference(emb, k = 8, maxIter = 0)
  }

  test("kmeansCentroids is bitwise the DataFrame round on wide-" +
      "magnitude mixed-sign vectors and HALF_UP ties") {
    val r = new scala.util.Random(17)
    val ties = Array(5e-10, -5e-10, 2.5e-9, 1.0000000015, -0.1234567895,
      123456.1234567895, 99999999.99999999)
    val rows = (0L until 300L).map { i =>
      (i, Array.tabulate(12) { j =>
        if (i % 7 == 0 && j < ties.length) ties(j)
        else (if (r.nextBoolean()) 1.0 else -1.0) *
          math.pow(10, -4 + 12.5 * r.nextDouble())
      })
    }
    assertKmeansMatchesReference(vecFrame(rows), k = 10, maxIter = 4)
  }

  test("kmeansCentroids keeps an empty cell's centroid exactly as the " +
      "DataFrame round does (duplicate seeds)") {
    val r = new scala.util.Random(23)
    // ids 0 and 1 are the same vector: cell 1 ties cell 0 for every
    // row and loses on cell_id, so it never gains a member
    val seed = Array(1.0, 0.5, -0.25)
    val rows = Seq((0L, seed), (1L, seed.clone())) ++
      (2L until 120L).map(i => (i, Array.fill(3)(r.nextGaussian())))
    val df = vecFrame(rows)
    assertKmeansMatchesReference(df, k = 4, maxIter = 1)
    assertKmeansMatchesReference(df, k = 4, maxIter = 3)
    val c1 = SimilaritySearch.kmeansCentroids(df, "vec_id", "embedding",
      k = 4, maxIter = 1).filter(col("cell_id") === 1).head()
    assert(c1.getSeq[Double](1) === Seq(1.0, 0.5, -0.25))
  }

  test("kmeansCentroids edge elements behave as the DataFrame round: " +
      "a NaN element counts but adds nothing, 1e9 fails the cast") {
    val r = new scala.util.Random(29)
    def base = (0L until 60L).map(i => (i, Array.fill(4)(r.nextGaussian())))
    val withNaN = base.map { case (i, v) =>
      if (i == 5L) (i, v.updated(2, Double.NaN)) else (i, v) }
    assertKmeansMatchesReference(vecFrame(withNaN), k = 3, maxIter = 3)
    val withHuge = base.map { case (i, v) =>
      if (i == 9L) (i, v.updated(1, 1e9)) else (i, v) }
    def failure(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val df = vecFrame(withHuge)
    for (msg <- Seq(
        failure(SimilaritySearch.kmeansCentroids(df, "vec_id",
          "embedding", k = 3, maxIter = 1)),
        failure(referenceKmeans(df, "vec_id", "embedding", k = 3,
          maxIter = 1).collect())))
      assert(msg.contains("NUMERIC_VALUE_OUT_OF_RANGE"), msg)
    // no round, no cast: both return the seeds
    assertKmeansMatchesReference(df, k = 3, maxIter = 0)
  }

  test("kmeansCentroids drops NULL-vector rows: never a seed, never a " +
      "member") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // id -1 sorts first, so a kept NULL row would be cell 0's seed
    val withNull = emb.unionByName(
      Seq((-1L, 0)).toDF("vec_id", "label")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val want = centroidBits(SimilaritySearch.kmeansCentroids(emb,
      "vec_id", "embedding", k = 8, maxIter = 3))
    val got = centroidBits(SimilaritySearch.kmeansCentroids(withNull,
      "vec_id", "embedding", k = 8, maxIter = 3))
    assert(got === want)
  }

  test("kmeansCentroids runs at most maxIter + 2 jobs and leaves no " +
      "persisted RDD or live centroid broadcast behind") {
    import org.apache.spark.graftprobe.DriverProbe
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val group = "kmeans-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "kmeans")
    val cents = try SimilaritySearch.kmeansCentroids(emb, "vec_id",
        "embedding", k = 8, maxIter = 5)
      finally sc.clearJobGroup()
    org.apache.spark.sql.graftbridge.ListenerBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    // one fold per round, the seeding take, and the fan-out's
    // shuffle when the round-1 fold first fills the persisted vectors
    assert(jobs.get >= 5 && jobs.get <= 7, s"${jobs.get} jobs")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert(!DriverProbe.liveBroadcastValues(sc)
        .exists(_.isInstanceOf[ArrayData]), "a centroid table is live")
    }
    assert(cents.count() === 8L)
  }

  test("labelCentroids is bitwise the posexplode/DECIMAL(18,9) sum " +
      "formulation it replaced") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val want = centroidBits(emb
      .select(col("label").as("cell_id"), posexplode(col("embedding")
        .cast("array<double>")))
      .groupBy(col("cell_id"), col("pos"))
      .agg((sum(col("col").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(col("cell_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell_id"),
        transform(col("pm"), x => x.getField("m")).as("centroid")))
    val got = centroidBits(SimilaritySearch.labelCentroids(emb, "label",
      "embedding"))
    assert(got === want)
  }
}
