package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY §2.11 V3/T1 — the
  * reference's cosine top-k retrieval, `services/database.py:202-236`,
  * k=4 default `shared/defaults.py:88`).
  *
  * Scale design: the baseline is a block-partitioned brute-force scan —
  * queries broadcast (small side), corpus stays partitioned, per-query
  * top-k via ranked window on (query, score). The IVF variant prunes
  * the corpus to the `nProbe` nearest coarse cells first, turning the
  * scan into a bucket-join — the 100 TB path.
  */
object SimilaritySearch {

  /** Brute-force cosine top-k: every query against every corpus row.
    * Queries are broadcast; the dot product never shuffles the corpus.
    * Ties break on corpus id for determinism. */
  def bruteForceTopK(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    // Norms are computed once per row BEFORE the cross join (n + m
    // sqrt-dots instead of n·m·3) — the per-pair work is one fused
    // codegen dot product. Same arithmetic as cosine(), so scores are
    // bit-identical.
    val q = queries.select(col(queryIdCol).as("qid"),
      col(vecCol).as("qvec"), l2Norm(col(vecCol)).as("qnorm"))
    val c = graft.GraftSession.fanOutForCompute(
      corpus.select(col(corpusIdCol).as("cid"),
        col(vecCol).as("cvec"), l2Norm(col(vecCol)).as("cnorm")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score",
        dotF64(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score"), col("cid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("score"), col("rnk"))
  }

  /** [[bruteForceTopK]] with the bounded-heap aggregation shape
    * ([[TopK]]): map-side per-partition top-k, shuffle of k rows per
    * (partition, query) instead of the full scored cross product —
    * the formulation that survives a 100 TB corpus, and the DEFAULT
    * retrieval path (q31, `Rag.retrieve`, the hybrid dense leg).
    * Long or string corpus ids; results are bit-identical to the
    * window formulation (TopKSpec proves it), which remains as the
    * oracle cross-check. */
  def bruteForceTopKHeap(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("qid"),
      col(vecCol).as("qvec"), l2Norm(col(vecCol)).as("qnorm"))
    val c = graft.GraftSession.fanOutForCompute(
      corpus.select(col(corpusIdCol).as("id"),
        col(vecCol).as("cvec"), l2Norm(col(vecCol)).as("cnorm")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score",
        dotF64(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select(col("qid"), col("id"), col("score"))
    TopK.perQuery(scored, k)
  }

  /** All corpus pairs with cosine similarity above `threshold` — the
    * EXACT pair scan. Compute is inherently quadratic (that is the
    * semantics: no sublinear scheme has recall 1 at arbitrary
    * thresholds), so the scale dial is the *shape*: a B×B block-tile
    * equi-join ([[Tiling.selfPairs]]) instead of a cross join or a
    * full-side broadcast — per-task memory is bounded by one tile
    * (~n/B rows per side) regardless of corpus size, and the id
    * filter runs before any scoring so only n·(n−1)/2 dot products
    * execute. Downstream top-N consumers still get
    * `TakeOrderedAndProject` straight off the join. For genuine
    * near-dup thresholds (≥ ~0.9) use [[cosineNearDupsBanded]], which
    * prunes candidates first and is the 100 TB path. */
  def cosinePairsAbove(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("norm"))
    Tiling.selfPairs(base, "id", blocks)
      .withColumn("score",
        dotF64(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("score") > threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Hard-negative mining (the contrastive-training data step: DPR
    * §4.2 / E5-style retriever training needs, per query, the most
    * similar corpus rows that are NOT known positives — the examples
    * that teach the decision boundary). `positives` is the (query id,
    * corpus id) relevance list; output is the top-k scored negatives
    * per query.
    *
    * Scale shape: positives collapse to one id-array per query and
    * ride the SAME query broadcast as the vectors (a per-query list
    * is small by definition); the exclusion is an `array_contains`
    * filter BEFORE the bounded-heap aggregation, so excluded pairs
    * never enter the shuffle and the corpus still streams through
    * one codegen'd dot-product scan — never a shuffled anti-join of
    * the n·m scored stream. */
  def hardNegatives(queries: DataFrame, queryIdCol: String,
      positives: DataFrame, posQueryCol: String, posCorpusCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val pos = positives.groupBy(col(posQueryCol).as("pqid"))
      .agg(collect_set(col(posCorpusCol)).as("pos_ids"))
    val emptyIds = array().cast(org.apache.spark.sql.types.ArrayType(
      positives.schema(posCorpusCol).dataType))
    val q = queries.select(col(queryIdCol).as("qid"),
        col(vecCol).as("qvec"), l2Norm(col(vecCol)).as("qnorm"))
      .join(pos, col("qid") === col("pqid"), "left")
      .select(col("qid"), col("qvec"), col("qnorm"),
        coalesce(col("pos_ids"), emptyIds).as("pos_ids"))
    val c = corpus.select(col(corpusIdCol).as("id"),
      col(vecCol).as("cvec"), l2Norm(col(vecCol)).as("cnorm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(!array_contains(col("pos_ids"), col("id")))
      .withColumn("score",
        dotF64(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select(col("qid"), col("id"), col("score"))
    TopK.perQuery(scored, k)
  }

  /** Metadata-filtered top-k (reference: Qdrant filtered search —
    * `services/database.py:271-272` passes `**kwargs` filters through
    * to the vector store). PRE-FILTER semantics, like Qdrant: the
    * predicate restricts the candidate set BEFORE scoring, so every
    * query still gets k results from the matching subset — a
    * post-filter (top-k first, filter after) silently returns fewer
    * than k and different ranks. Spark-first: the predicate is a
    * plain Column, so Catalyst pushes it into the parquet scan
    * (PushedFilters) and the heap never sees a non-matching row. */
  def filteredTopK(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      predicate: Column, k: Int): DataFrame =
    bruteForceTopKHeap(queries, queryIdCol, corpus.filter(predicate),
      corpusIdCol, vecCol, k)

  /** Maximal-marginal-relevance diversification (Carbonell &
    * Goldstein, SIGIR 1998) of a per-query retrieval shortlist: pick
    * `k` results greedily, each step taking the candidate maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(cand, s)` — relevance traded
    * against redundancy with what is already picked. The RAG-side
    * answer to near-duplicate contexts: D1's exact-dup drop removes
    * identical chunks, MMR removes *semantically* redundant ones.
    *
    * `shortlist` is (qid, cid, score) — rel = score, typically from
    * [[bruteForceTopKHeap]]; `corpus` supplies the candidate vectors
    * for the pairwise-similarity leg.
    *
    * Scale shape: candidate-pair similarities are an equi-join on qid
    * of two shortlist copies — per-query work is shortlist² (a
    * constant, e.g. 20² = 400), distributed across queries; the k
    * greedy steps are k bounded join+window jobs over frames keyed by
    * qid, with the loop state localCheckpointed so the iteration
    * never compounds lineage. Nothing in the loop touches the corpus
    * again after the single vector join.
    *
    * Determinism: rel and sim are the engine-standard sequential-fold
    * cosines; `max(sim)` is order-independent; the MMR score is one
    * fixed-shape expression (λ and 1−λ are driver-computed literals);
    * ties break on cid. Every step is therefore value-exact — the
    * q128 oracle replays the greedy loop as k chained SQL stages.
    *
    * Output: (qid, cid, score, mmr_score, rnk) — rnk = selection
    * order 1..k. */
  def mmrDiversify(shortlist: DataFrame, corpus: DataFrame,
      corpusIdCol: String, vecCol: String, k: Int,
      lambda: Double = 0.5): DataFrame = {
    val vecs = corpus.select(col(corpusIdCol).as("cid"),
      col(vecCol).cast("array<double>").as("vec"),
      l2Norm(col(vecCol).cast("array<double>")).as("norm"))
    // One bounded frame per query (shortlist rows + their vectors),
    // served from block storage to the pair join and all k steps.
    val cand = shortlist.select(col("qid"), col("cid"), col("score"))
      .join(vecs, "cid")
      .localCheckpoint()
    val pairs = cand.select(col("qid"), col("cid"),
        col("vec"), col("norm"))
      .join(cand.select(col("qid"), col("cid").as("other"),
          col("vec").as("ovec"), col("norm").as("onorm")),
        Seq("qid"))
      .filter(col("cid") =!= col("other"))
      .select(col("qid"), col("cid"), col("other"),
        (dotF64(col("vec"), col("ovec"))
          / (col("norm") * col("onorm"))).as("sim"))
      .localCheckpoint()
    val rel = cand.select(col("qid"), col("cid"), col("score"))
    var selected: DataFrame = null
    var i = 1
    while (i <= k) {
      val remaining =
        if (selected == null) rel
        else rel.join(selected.select(col("qid"), col("cid")),
          Seq("qid", "cid"), "left_anti")
      val withMax =
        if (selected == null)
          remaining.withColumn("_maxsim", lit(null).cast("double"))
        else remaining.join(
          pairs.join(selected.select(col("qid"),
              col("cid").as("other")), Seq("qid", "other"))
            .groupBy(col("qid"), col("cid"))
            .agg(max(col("sim")).as("_maxsim")),
          Seq("qid", "cid"), "left")
      val step = withMax
        .withColumn("mmr_score",
          lit(lambda) * col("score")
            - lit(1.0 - lambda) * coalesce(col("_maxsim"), lit(0.0)))
        .withColumn("_r", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(desc("mmr_score"), col("cid"))))
        .filter(col("_r") === 1)
        .select(col("qid"), col("cid"), col("score"),
          col("mmr_score"), lit(i).as("rnk"))
      selected =
        (if (selected == null) step else selected.unionByName(step))
          .localCheckpoint()
      i += 1
    }
    selected
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by
    * within-cluster cosine similarity. The corpus is first bucketed
    * into clusters (`cellCol` — k-means cells from
    * [[kmeansCentroids]], or any upstream label); within each cluster
    * a row is a semantic duplicate if some LOWER-id row in the same
    * cluster has cosine ≥ `threshold` with it (keep-first, matching
    * the paper's keep-one-per-group policy with a deterministic
    * representative).
    *
    * Scale: the pair scan is an equi-join on the cluster key — a hash
    * join whose per-cluster work is quadratic only in the cluster
    * size (the paper's whole point: k ≈ √n cells make within-cell
    * pairs ≈ n^1.5 total, vs n² global). No cartesian, no broadcast
    * of the corpus; the dedup verdict shuffles ids only.
    *
    * Output: every input row as (id, cell, keep), ordered by id. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      cellCol: String, threshold: Double): DataFrame = {
    val base = df.select(col(cellCol).as("cell"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
    val a = base.select(col("cell").as("cell_a"), col("id").as("id_a"),
      col("vec").as("vec_a"), col("norm").as("norm_a"))
    val b = base.select(col("cell").as("cell_b"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("norm").as("norm_b"))
    val dropped = a
      .join(b, col("cell_a") === col("cell_b") &&
        col("id_a") < col("id_b"))
      .filter(dotF64(col("vec_a"), col("vec_b")) /
        (col("norm_a") * col("norm_b")) >= threshold)
      .select(col("id_b").as("dup")).distinct()
    base
      .join(dropped, col("id") === col("dup"), "left")
      .select(col("id"), col("cell"), col("dup").isNull.as("keep"))
      .orderBy(col("id"))
  }

  /** Packed-int8 form of a vector: one signed byte per component
    * ([[graft.functions.DotI8]]'s layout), per-vector symmetric scale
    * = max|x|/127, integer L2 norm of the quantized components. */
  case class QuantVec(qvec: Array[Byte], scale: Double, qnorm: Double)

  private val quantizeUdf = udf { (vec: Array[Double]) =>
    var mx = 0.0
    var i = 0
    while (i < vec.length) {
      val a = math.abs(vec(i)); if (a > mx) mx = a; i += 1
    }
    val scale = mx / 127.0
    val q = new Array[Byte](vec.length)
    var ss = 0L
    if (scale > 0) {
      i = 0
      while (i < vec.length) {
        val r = Math.round(vec(i) / scale)
        val c = if (r > 127) 127L else if (r < -127) -127L else r
        q(i) = c.toByte
        ss += c * c
        i += 1
      }
    }
    QuantVec(q, scale, math.sqrt(ss.toDouble))
  }

  /** Symmetric int8 quantization of `vecCol`: (id, qvec BINARY,
    * scale, qnorm). 4× smaller than float32 — the storage/bandwidth
    * form for brute-force scans over a corpus that no longer needs
    * exact floats (q68 value-checks the same arithmetic). */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        quantizeUdf(col(vecCol).cast("array<double>")).as("_q"))
      .select(col(idCol), col("_q.qvec").as("qvec"),
        col("_q.scale").as("scale"), col("_q.qnorm").as("qnorm"))

  /** Brute-force top-k over int8-quantized vectors: the scan reads a
    * quarter of the bytes and the per-pair kernel is the exact
    * integer [[graft.functions.DotI8]]; scores are the quantized
    * vectors' cosine (per-vector scales cancel). Same bounded-heap
    * shuffle shape as [[bruteForceTopKHeap]]. Recall vs the float
    * scan is bounded by the quantization error (SimilaritySpec
    * measures it on the embeddings corpus). */
  def quantizedTopK(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = quantize(queries, queryIdCol, vecCol)
      .select(col(queryIdCol).as("qid"), col("qvec").as("q_qvec"),
        col("qnorm").as("q_qnorm"))
    val c = quantize(corpus, corpusIdCol, vecCol)
      .select(col(corpusIdCol).as("id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_qnorm") > 0 && col("c_qnorm") > 0)
      .withColumn("score",
        dotI8(col("q_qvec"), col("c_qvec")).cast("double")
          / (col("q_qnorm") * col("c_qnorm")))
      .select(col("qid"), col("id"), col("score"))
    TopK.perQuery(scored, k)
  }

  /** Deterministic Rademacher hyperplane sign: ±1 from the first hex
    * digit of md5("b_j") — reproducible in any engine that has md5
    * (the DuckDB oracle recomputes the identical matrix in SQL). */
  private[operators] def hyperplaneSign(b: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${b}_$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xF) < 8) 1.0 else -1.0
  }

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def signMatrix(bits: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((bits, dim), { case (b, d) =>
      Array.tabulate(b, d)(hyperplaneSign)
    })

  /** 60-bit random-hyperplane (SimHash-for-vectors) signature: bit b
    * is the sign of the projection onto the b-th deterministic ±1
    * hyperplane. P[bit agrees] = 1 − θ/π, so near-parallel vectors
    * have near-equal signatures. Sequential double fold per bit —
    * bit-reproducible against the oracle's `list_reduce`. */
  // Array[Double] args, not Seq: Spark hands the UDF the primitive
  // double[] (ArrayData.toDoubleArray), where Seq[Double] boxes every
  // element — measured 80× slower per row on the 64-dim corpus.
  private val signatureUdf =
    udf { (vec: Array[Double], bits: Int, offsets: Array[Double]) =>
      val m = signMatrix(bits, vec.length)
      var sig = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var j = 0
        val row = m(b)
        while (j < vec.length) { dot += vec(j) * row(j); j += 1 }
        if (dot - offsets(b) > 0) sig |= 1L << b
        b += 1
      }
      sig
    }

  /** Signature of `vec`, optionally against hyperplanes shifted to
    * pass through a center point c: bit b tests (v−c)·H_b > 0, i.e.
    * v·H_b − offset_b with offset_b = c·H_b precomputed. */
  def hyperplaneSignature(vec: Column, bits: Int = 60,
      offsets: Seq[Double] = Nil): Column = {
    val off = if (offsets.isEmpty) Seq.fill(bits)(0.0) else offsets
    signatureUdf(vec.cast("array<double>"), lit(bits), typedLit(off))
  }

  /** Per-band packed sign values (band b packs the signs of
    * hyperplanes [b·width, (b+1)·width)), computed directly instead
    * of slicing one packed Long — lifting the 64-bit ceiling on total
    * signature width. Random-pair collision per band is 2^-width on a
    * centered corpus, so width is the pruning dial: 8-bit bands admit
    * ~0.4% of ALL pairs per band (candidates stay quadratic with a
    * small constant), 16-bit bands cut that 256× — but 8 bands × 16
    * bits = 128 hyperplanes no longer fit one Long. Identical
    * geometry to [[hyperplaneSignature]] + shift/mask when the total
    * width is ≤ 64. */
  private val bandValuesUdf =
    udf { (vec: Array[Double], bands: Int, bandBits: Int,
           offsets: Array[Double]) =>
      val m = signMatrix(bands * bandBits, vec.length)
      Array.tabulate(bands) { band =>
        var v = 0L
        var i = 0
        while (i < bandBits) {
          val b = band * bandBits + i
          var dot = 0.0
          var j = 0
          val row = m(b)
          while (j < vec.length) { dot += vec(j) * row(j); j += 1 }
          if (dot - offsets(b) > 0) v |= 1L << i
          i += 1
        }
        v
      }
    }

  /** Per-bit offsets that recenter the hyperplanes on the corpus mean
    * (decimal-exact, deterministic aggregation): a correlated corpus
    * concentrates on one side of origin-crossing hyperplanes, making
    * every random pair a band-collision candidate; hyperplanes
    * through the mean split the corpus ~50/50 per bit, restoring the
    * 2^-bandBits collision rate the banding analysis assumes. The
    * mean shifts both vectors of a near-dup pair identically, so
    * near-dup signatures stay near-equal and the pigeonhole recall
    * argument is unchanged. */
  def centeredOffsets(df: DataFrame, vecCol: String,
      bits: Int = 60): Seq[Double] = {
    // One flat aggregation (no explode, no shuffle of element rows):
    // 64 double sums compile into a single small codegen stage. Plain
    // double summation is partition-order dependent, but the center
    // only steers candidate pruning — the exact-cosine verify fixes
    // the output, and the banding margin absorbs any last-ulp wobble
    // in the center.
    val v = col(vecCol).cast("array<double>")
    val dim = df.select(size(v)).head.getInt(0)
    val aggs = (0 until dim).map(i => sum(element_at(v, i + 1)))
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = row.getLong(0).toDouble
    val mean = Array.tabulate(dim)(i => row.getDouble(i + 1) / n)
    (0 until bits).map { b =>
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += mean(j) * hyperplaneSign(b, j); j += 1 }
      dot
    }
  }

  /** Embedding near-dup mining via banded hyperplane-LSH — the
    * bucketed candidate-generation + exact-verify shape that survives
    * 100 TB (mirror of `Dedup.simhashNearDups`): signature → split
    * into `bands` bit-bands → equality join on (band, band value) →
    * exact cosine ≥ `threshold` verify on the candidates only.
    *
    * Recall: by pigeonhole, every pair within signature Hamming
    * distance `bands − 1` is found. A pair at cosine s flips each bit
    * with p = arccos(s)/π, so E[hamming] = bits·p; at s ≥ 0.999,
    * 256·0.014 ≈ 3.6 against a bands−1 = 15 guarantee — a miss needs
    * hamming ≥ 16 AND the flipped bits spread over all 16 bands,
    * ~1e-11 per pair even for pairs AT the threshold boundary
    * (ScaleBench measured an 8-band config missing 1 of 240 570
    * boundary pairs at K=32; 16 bands recovered all of them). At
    * thresholds far below ~0.9 the expected Hamming distance exceeds
    * any banding guarantee and [[cosinePairsAbove]] is the honest
    * (quadratic) semantics.
    *
    * Width (bits/bands) is the CANDIDATE dial, independent of the
    * recall guarantee: per-band random collision is 2^-width on a
    * centered corpus. ScaleBench measured 8-bit bands admitting ~3%
    * of all pairs (the banded path LOST to the tiled exhaustive scan
    * up to 80k vectors — 29 s vs 7 s at K=16); 16-bit bands admit
    * bands·2^-16 ≈ 2e-4, making candidates effectively linear until
    * corpus sizes ~10^7. */
  /** `center = true` recenters the hyperplanes on the corpus mean
    * ([[centeredOffsets]]) — a large pruning win on correlated
    * corpora (measured 49% → 16% candidate rate on the embeddings
    * testdata), but the Hamming-vs-cosine relationship then depends
    * on the centered norms: vectors much closer to the mean than to
    * each other can flip many bits. Use it when the corpus is large
    * relative to its mean (verified here per round by the q58 oracle
    * and the banded-vs-exhaustive spec); keep the default for the
    * distribution-free pigeonhole guarantee. */
  def cosineNearDupsBanded(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 256, bands: Int = 16,
      center: Boolean = false): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    require(bandBits <= 64, "band width must fit a packed Long")
    val offsets =
      if (center) centeredOffsets(df, vecCol, bits)
      else Seq.fill(bits)(0.0)
    // The band self-join stays NARROW (id + band value only — wide
    // vector columns through a many-match join would materialize
    // hundreds of MB of array copies); candidate pairs dedupe with a
    // distinct, then vectors and norms come back via two joins
    // against the small signature frame (AQE broadcasts it) for the
    // exact verify.
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("norm"),
      bandValuesUdf(col(vecCol).cast("array<double>"), lit(bands),
        lit(bandBits), typedLit(offsets)).as("band_vals"))
    val banded = sig.select(col("id"), posexplode(col("band_vals")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val")
    val cands = banded.select(col("id").as("id_a"), col("band"),
        col("band_val"))
      .join(banded.select(col("id").as("id_b"), col("band"),
        col("band_val")), Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(sig.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("norm").as("norm_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("norm").as("norm_b")), "id_b")
      .withColumn("score",
        dotF64(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Nearest-centroid assignment (the IVF coarse quantizer as a
    * standalone step): each row gets the cell whose centroid has the
    * highest cosine to its vector, ties broken by cell_id. Centroids
    * ride a broadcast; the assignment is a map-side argmax per row —
    * at 100 TB this is a map-only pass over the corpus.
    *
    * Contract (shared by [[ivfTopK]] and [[ivfKnnLists]]): `idCol`
    * and the centroids' `cell_id` must be integral
    * ([[TopK.requireIntegralId]]; string ids go through
    * [[bruteForceTopKHeap]]), and rows with a NULL vector are
    * filtered out before cell assignment. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    TopK.requireIntegralId(df, idCol)
    attachCells(df, vecCol, centroids, 1)
  }

  /** IVF-style ANN: coarse-quantize the corpus to `centroids` (a small
    * DataFrame of (cell_id, centroid)), then search only the `nProbe`
    * cells nearest each query. Centroids broadcast twice (assignment +
    * probe); the fine scan joins corpus cells to query probes on
    * cell_id — a hash join on a low-cardinality key instead of a full
    * cross product. Recall < 1.0 by construction; the brute-force scan
    * above is the exactness oracle.
    *
    * Ids and `cell_id` must be integral and `k`, `nProbe` ≥ 1
    * (checked at entry; string ids go through [[bruteForceTopKHeap]]).
    * Rows with a NULL vector are filtered out before cell assignment:
    * a NULL-vector corpus row is never a hit and a NULL-vector query
    * returns no rows. */
  def ivfTopK(queries: DataFrame, queryIdCol: String, corpus: DataFrame,
      corpusIdCol: String, vecCol: String, centroids: DataFrame,
      k: Int, nProbe: Int = 2): DataFrame =
    ivfFineScan(queries, queryIdCol, corpus, corpusIdCol, vecCol,
      centroids, k, nProbe, broadcastQueries = true)

  /** The shared cell-ranking core of [[assignCells]] and the IVF fine
    * scan: each row with a non-NULL vector gets its top-`probes`
    * cells under `centroids` (ties break on cell_id), one output row
    * per cell. r15 shape (guide §2.4, remove the exchange outright):
    * the centroid table — bounded by design ([[coarseCellCount]]
    * caps) — is packed into ONE broadcast row of (cell_id, centroid,
    * cnorm) structs, and each row picks its cells with the
    * [[graft.functions.TopCells]] codegen kernel ON the row: no
    * ranking window, no exchange, no re-attach join — a map-only
    * pass at any scale.
    *
    * Value parity: the kernel computes the same sequential-fold
    * scores (dot/(rnorm·cnorm), [[dotF64]] order) and ranks by the
    * same (score desc, cell_id asc) order as a ranked window
    * (CellKernelSpec pins kernel ≡ window, ties and ±0.0 included).
    *
    * Narrow scans still fan out first (the one-parquet-split corpus
    * would otherwise score n×cells pairs on one core;
    * fanOutForCompute is a no-op once the scan splits naturally). */
  private def attachCells(df: DataFrame, vecCol: String,
      centroids: DataFrame, probes: Int): DataFrame = {
    TopK.requireIntegralId(centroids, "cell_id")
    graft.GraftSession.fanOutForCompute(df.filter(col(vecCol).isNotNull))
      .crossJoin(broadcast(packCells(centroids)))
      .withColumn("_pick", explode(graft.functions.TopCells.of(
        col(vecCol), col("_cells"), probes)))
      .withColumn("cell_id",
        col("_pick").cast(centroids.schema("cell_id").dataType))
      .drop("_cells", "_pick")
  }

  /** The centroid table as ONE row: `_cells`, the cell_id-sorted
    * (cell_id LONG, centroid, cnorm) structs [[graft.functions.TopCells]]
    * reads. cell_id rides as long through the kernel; callers cast
    * the picks back. The row's cell count and dimension pass
    * [[requireCellTableFits]] before it leaves its task. */
  private def packCells(centroids: DataFrame): DataFrame =
    centroids.agg(array_sort(collect_list(struct(
        col("cell_id").cast("long").as("cell_id"),
        col("centroid").cast("array<double>").as("centroid"),
        l2Norm(col("centroid")).as("cnorm")))).as("_cells"),
      count(lit(1)).as("_n"),
      coalesce(max(size(col("centroid"))), lit(0)).as("_dim"))
      .filter(cellTableFits(col("_n"), col("_dim")))
      .select(col("_cells"))

  /** Largest centroid table [[packCells]] and [[packTable]] build:
    * the table is one row that the driver and every executor hold
    * whole, and a single Spark row cannot pass 2 GiB. 1 GiB keeps
    * 65,536 cells at dim 1,024, or 262,144 cells at dim 128. */
  private[operators] val MaxCellTableBytes: Long = 1L << 30

  /** The centroid-table size guard: `cells × (dim + 2) × 8 B` (the
    * doubles of each centroid plus its cell_id and cnorm) must not
    * pass [[MaxCellTableBytes]]. Checked from the counts alone,
    * before any table exists. */
  private[operators] def requireCellTableFits(cells: Long,
      dim: Long): Unit = {
    val bytes = BigInt(cells) * (BigInt(dim) + 2) * 8
    require(bytes <= MaxCellTableBytes,
      s"centroid table of cells = $cells, dim = $dim needs $bytes B " +
      s"(cells × (dim + 2) × 8), above the $MaxCellTableBytes B cap: " +
      "use fewer cells or a lower dimension")
  }

  private val cellTableFits = udf { (cells: Long, dim: Int) =>
    requireCellTableFits(cells, dim)
    true
  }

  /** The IVF fine scan: probe-cell assignment on both sides, join
    * on cell_id, per-query top-k through the dedup heap
    * ([[TopK.perQueryDedup]]). `broadcastQueries` picks the join
    * strategy: broadcast for a handful of probes ([[ivfTopK]]),
    * keyed shuffle when the query set is corpus-sized
    * ([[ivfKnnLists]]). `corpusAssign` > 1 posts each corpus vector
    * to its that-many nearest cells (multi-assignment — the classic
    * IVF recall lever for cell-boundary vectors: a true neighbor
    * whose home cell the query missed is still found through its
    * second cell), at corpusAssign× fine-scan volume; a (qid, cid)
    * pair surfacing through several shared cells has one
    * deterministic score, so the heap collapses the duplicates and
    * one neighbor can't occupy two of the k slots. */
  private def ivfFineScan(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      centroids: DataFrame, k: Int, nProbe: Int,
      broadcastQueries: Boolean, corpusAssign: Int = 1): DataFrame = {
    TopK.requirePositive("k" -> k, "nProbe" -> nProbe,
      "corpusAssign" -> corpusAssign)
    TopK.requireIntegralId(queries, queryIdCol)
    TopK.requireIntegralId(corpus, corpusIdCol)
    // side norms once per (row, cell) assignment — never per scored
    // pair (the [[bruteForceTopK]] discipline); bit-identical scores
    val corpusCells = attachCells(corpus, vecCol, centroids, corpusAssign)
      .select(col(corpusIdCol).as("cid"), col(vecCol).as("cvec"),
        l2Norm(col(vecCol)).as("cn"), col("cell_id"))
    val queryCells = attachCells(queries, vecCol, centroids, nProbe)
      .select(col(queryIdCol).as("qid"), col(vecCol).as("qvec"),
        l2Norm(col(vecCol)).as("qn"), col("cell_id"))
    val joined =
      if (broadcastQueries)
        corpusCells.join(broadcast(queryCells), Seq("cell_id"))
      else corpusCells.join(queryCells, Seq("cell_id"))
    TopK.perQueryDedup(joined.select(col("qid"), col("cid").as("id"),
        (dotF64(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
          .as("score")), k)
      .select(
        col("qid").cast(queries.schema(queryIdCol).dataType).as("qid"),
        col("cid").cast(corpus.schema(corpusIdCol).dataType).as("cid"),
        col("score"), col("rnk"))
  }

  /** Random-SAMPLE coarse quantizer: the `cells` smallest-id
    * vectors ARE the centroid table (cell_id = the vector's own
    * id) — the sampling-quantizer baseline every IVF library ships
    * (train on a data sample; Lloyd refinement =
    * [[kmeansCentroids]], drop-in when training budget allows).
    * Unlike a label column (FIXED cardinality — the q299/q239
    * blocking hazard), `cells` is sized by [[coarseCellCount]] ≈
    * √n, so per-cell scan length SCALES with the data. The
    * orderBy+limit moves only `cells` rows; deterministic, and a
    * SQL rank window replays it exactly. */
  def sampleCentroids(df: DataFrame, idCol: String, vecCol: String,
      cells: Int): DataFrame = {
    require(cells >= 1, s"cells must be >= 1 ($cells)")
    df.orderBy(col(idCol)).limit(cells)
      .select(col(idCol).as("cell_id"),
        col(vecCol).cast("array<double>").as("centroid"))
  }

  /** Corpus×corpus directed IVF k-NN lists — the shortlist builder
    * under [[marginMiningShortlist]] and any all-pairs-ish mining
    * pass: the same cell-probe discipline as [[ivfTopK]], but the
    * fine scan is a KEYED SHUFFLE join on cell_id instead of a
    * query-side broadcast, because here the query set is itself
    * corpus-sized (half the corpus, not a handful of probes).
    * With √n cells, each query scans nProbe cells of ≈√n vectors —
    * O(n^1.5) total fine-scan pairs vs the exact form's n², and
    * every shuffle is keyed (cell_id, qid); nothing corpus-sized
    * ever broadcasts or collects. Returns (qid, cid, score, rnk),
    * rnk 1..k per qid.
    *
    * Same contract as [[ivfTopK]]: integral ids and `cell_id`,
    * `k`, `nProbe` and `corpusAssign` ≥ 1 (checked at entry), and
    * NULL-vector rows filtered out before cell assignment. */
  def ivfKnnLists(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      centroids: DataFrame, k: Int, nProbe: Int = 2,
      corpusAssign: Int = 1): DataFrame =
    ivfFineScan(queries, queryIdCol, corpus, corpusIdCol, vecCol,
      centroids, k, nProbe, broadcastQueries = false,
      corpusAssign = corpusAssign)

  /** Coarse-quantizer sizing: #cells ≈ √n (the IVF practice from
    * Jégou et al., "Product Quantization for Nearest Neighbor
    * Search" §V — balances per-cell scan length against probe-side
    * centroid comparisons, both ≈ √n at the optimum), clamped to
    * [minCells, maxCells]. At 100 TB the cap keeps the broadcast
    * centroid table bounded (65536 cells × dim doubles ≈ tens of MB
    * for typical dims — still broadcastable). */
  def coarseCellCount(n: Long, minCells: Int = 16,
      maxCells: Int = 65536): Int =
    math.max(minCells,
      math.min(maxCells, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** NEXT-SCALE-STEP quantizer sizing: #cells = ⌈(n²)^(1/3)⌉ ≈
    * n^(2/3), clamped to [minCells, maxCells]. The √n optimum of
    * [[coarseCellCount]] prices a corpus×corpus fine scan at
    * n·nProbe·√n = O(n^1.5) total pairs — the curve the r13 sf10
    * probe measured on q305 (PLANS.md: 10× data → 31.6× candidate
    * work by design). Raising the cell exponent to 2/3 drops
    * per-cell scan length to n^(1/3) and total fine-scan work to
    * O(n^(4/3)) — ~21.5× on 10× — at the price of LOWER IVF recall
    * at a fixed nProbe (fewer vectors scanned per query), which is
    * why this is a value-affecting registered variant (q329), never
    * a silent swap under q305. The root is computed in exact BigInt
    * arithmetic (n² overflows Long past n ≈ 3×10⁹, and a libm
    * `pow` at a ⌈⌉ boundary is not replayable across engines); the
    * 262144-cell cap keeps the broadcast centroid table bounded
    * (256k × dim doubles ≈ low hundreds of MB at dim 128 — the cap
    * a 1000-executor cluster tolerates; probe-side centroid ranking
    * stays a per-row broadcast loop). At the cap, dim 1,024 needs
    * 2.15 GB and [[requireCellTableFits]] refuses it. */
  def coarseCellCountScaled(n: Long, minCells: Int = 16,
      maxCells: Int = 262144): Int = {
    require(n >= 0, s"n must be >= 0 ($n)")
    val sq = BigInt(n) * BigInt(n)
    var c = BigInt(math.max(0L, math.cbrt(sq.toDouble).toLong - 2))
    while (c > 0 && (c - 1) * (c - 1) * (c - 1) >= sq) c -= 1
    while (c * c * c < sq) c += 1
    (BigInt(minCells).max(BigInt(maxCells).min(c))).toInt
  }

  /** RECALL-HOLDING probe sizing (the r13 verdict's one capability
    * hole): nProbe = min{p : p⁶ ≥ a·n} = ⌈(a·n)^(1/6)⌉, clamped to
    * [minProbes, maxProbes] — the probe count GROWS as n^(1/6) so
    * probed volume tracks the per-cell shrink of the n^(2/3)-cell
    * quantizer ([[coarseCellCountScaled]]: per-cell length n^(1/3)
    * falls as a FRACTION of n like n^(-2/3); probes × per-cell =
    * a^(1/6)·n^(1/2) keeps the scanned fraction decaying only as
    * n^(-1/2) instead of n^(-2/3)). Total fine-scan work returns to
    * the √n device's O(n^1.5) — with recall that holds where the
    * fixed-probe devices measurably decay (q330's curve: 0.97→0.51
    * sqrt, 0.95→0.68 cbrt from sf0.01→sf1). Exact integer
    * arithmetic end-to-end (p ≤ 65 keeps p⁶ ≤ 7.5e10 ≪ INT64; a·n
    * rides BigInt here, HUGEINT in the oracle) so a SQL oracle
    * replays the sizing bit-for-bit at every n. */
  def probeCountScaled(n: Long, a: Int = 64, minProbes: Int = 4,
      maxProbes: Int = 64): Int = {
    require(n >= 0 && a >= 1, s"n >= 0 and a >= 1 ($n, $a)")
    require(maxProbes >= minProbes && maxProbes <= 65,
      s"probe clamp [$minProbes, $maxProbes] must sit within [.., 65]")
    val target = BigInt(a) * BigInt(n)
    var p = BigInt(1)
    while (p < maxProbes && p * p * p * p * p * p < target) p += 1
    math.max(minProbes, p.toInt)
  }

  /** Deterministic ≈`maxTrain`-row training sample: keep rows whose
    * [[Split.splitBucket]] (md5 of the id — no rand(), stable across
    * runs, partitionings, and engines) falls under the sampling rate.
    * Quantizer training (k-means cells, PQ codebooks) converges on a
    * corpus fraction, so at scale training reads a bounded sample
    * while encode/assign still stream the full corpus. The one
    * `count()` action moves a single long to the driver. */
  def trainingSample(df: DataFrame, idCol: String,
      maxTrain: Int): DataFrame = {
    require(maxTrain > 0, "maxTrain must be positive")
    val n = df.count()
    if (n <= maxTrain) df
    else df.filter(Split.splitBucket(col(idCol)) <
      math.max(1L, math.floor(
        maxTrain.toDouble / n * Split.Buckets).toLong))
  }

  /** Lloyd's k-means coarse quantizer for IVF over corpora WITHOUT
    * labels (the label-centroid shortcut only works on labeled
    * testdata). Returns (cell_id INT, centroid ARRAY<DOUBLE>), a local
    * frame built from the driver's centroid table.
    *
    * Deterministic: the seeds are the k vectors with the smallest ids
    * (cell_id 0..k-1 in id order), assignment ranks cells with the
    * [[graft.functions.TopCells]] kernel ((score desc, cell_id asc),
    * the ranked-window order), and the update is the [[ExactMean]]:
    * per position `CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) /
    * COUNT(*)` over the cell's members, exact in any merge order. A
    * cell that gains no member keeps its previous centroid. Rows with
    * a NULL vector are dropped first: never a seed, never a member.
    *
    * Round shape: the training vectors are persisted once, and each
    * round is ONE fold over them, one Spark job. The driver holds the
    * k × dim centroid table and ships it as one broadcast, destroyed
    * when the round ends; each task assigns its rows and sums them
    * into per-cell exact means, and the driver merges the k-sized
    * partials. No per-round shuffle and no checkpoint; the persisted
    * vectors are freed before the call returns. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int = 10, maxTrain: Int = 0): DataFrame = {
    val train = if (maxTrain > 0) trainingSample(df, idCol, maxTrain)
      else df
    val vecs = train.filter(col(vecCol).isNotNull).select(
      col(idCol).as("_id"), col(vecCol).cast("array<double>").as("v"))
    var cents = vecs.orderBy(col("_id")).limit(k).collect()
      .map(_.getSeq[java.lang.Double](1).toArray)
    // fan the narrow training scan out so each round's fold runs wide;
    // the vectors persist as serialized RDD blocks (the first fold
    // fills them; ~5% smaller than the object form, no slower)
    val v = graft.GraftSession.fanOutForCompute(vecs.select(col("v")))
      .queryExecution.toRdd.map(_.getArray(0).copy())
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val ansi = SQLConf.get.ansiEnabled
      var iter = 0
      while (iter < maxIter && cents.nonEmpty) {
        val table = df.sparkSession.sparkContext.broadcast(packTable(cents))
        try {
          val cells = lloydFold(v, table, cents.length, ansi)
          cents = cents.indices.map { c =>
            if (cells(c) == null || cells(c).dim == 0) cents(c)
            else cells(c).mean
          }.toArray
        } finally table.destroy()
        iter += 1
      }
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(cents.indices.map(c =>
          Row(c, cents(c).toSeq)): _*),
        StructType(Seq(StructField("cell_id", IntegerType, false),
          StructField("centroid", ArrayType(DoubleType, true)))))
    } finally v.unpersist(blocking = false)
  }

  /** The driver's centroid table as [[graft.functions.TopCells]] reads
    * it, the same (cell_id, centroid, cnorm) structs [[packCells]]
    * builds from a frame: cell_id order, cnorm the sequential-fold
    * norm, and a NULL element read as 0.0 as the kernel reads it. */
  private def packTable(cents: Array[Array[java.lang.Double]]): ArrayData = {
    requireCellTableFits(cents.length,
      if (cents.isEmpty) 0 else cents.map(_.length).max)
    new GenericArrayData(cents.indices.map { c =>
      val x = cents(c).map(e => if (e == null) 0.0 else e.doubleValue)
      var self = 0.0
      x.foreach(e => self += e * e)
      InternalRow(c.toLong, UnsafeArrayData.fromPrimitiveArray(x),
        math.sqrt(self))
    })
  }

  /** One Lloyd round: each task assigns its rows to their best cell of
    * the broadcast table and sums them into per-cell exact means; the
    * driver merges the partials. Entry c is cell c's members' mean, or
    * null when no row picked cell c. */
  private def lloydFold(vecs: RDD[ArrayData],
      table: Broadcast[ArrayData], k: Int,
      ansi: Boolean): Array[ExactMean] =
    vecs.mapPartitions { it =>
      val cells = table.value
      val acc = new Array[ExactMean](k)
      it.foreach { vec =>
        val c = graft.functions.TopCells.topCells(vec, cells, 1,
          vecIsFloat = false).getLong(0).toInt
        if (acc(c) == null) acc(c) = new ExactMean(ansi)
        acc(c).add(vec)
      }
      Iterator.single(acc)
    }.reduce { (a, b) =>
      var c = 0
      while (c < k) {
        if (a(c) == null) a(c) = b(c)
        else if (b(c) != null) a(c).merge(b(c))
        c += 1
      }
      a
    }

  /** K-means-free coarse centroids: the [[ExactMean]] of each label's
    * vectors (per position `CAST(SUM(CAST(x AS DECIMAL(18,9))) AS
    * DOUBLE) / COUNT(*)`) — deterministic under ANY aggregation order,
    * so it partial-aggregates map-side with per-group state bounded by
    * the dimension, not the group's membership. Bit-reproducible by a
    * SQL oracle, which is what lets the IVF query (q43) be value-checked
    * instead of rows-only. NULL and empty vectors add nothing, so a
    * label with only those has no centroid. Returns (cell_id,
    * centroid ARRAY<DOUBLE>). */
  def labelCentroids(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    df.filter(size(col(vecCol)) > 0)
      .groupBy(col(labelCol).as("cell_id"))
      .agg(ExactMean.of(col(vecCol)).as("centroid"))

  /** SEMANTIC decontamination: nearest eval-set embedding per corpus
    * embedding, with a contamination flag at `threshold` — the
    * embedding-space complement of the n-gram decontamination path
    * ([[graft.operators.Dedup]]'s bloom/n-gram screens catch verbatim
    * leakage; this catches paraphrased leakage the way recent model
    * reports audit eval sets). Eval sets are small by nature, so the
    * eval side BROADCASTS and the corpus never shuffles: one
    * map-side pass scores |corpus|×|eval| pairs, and the per-corpus
    * argmax rides a lexicographic struct max (ties → smaller eval
    * id) that combines map-side. For corpora where even the map-side
    * product is too hot, pre-shortlist with the banded ANN paths and
    * verify here.
    *
    * Output: (idCol, eval_id, score, flagged), one row per corpus
    * embedding, ordered by idCol. */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
      evalSet: DataFrame, evalIdCol: String, vecCol: String,
      threshold: Double = 0.9): DataFrame = {
    require(evalSet.schema(evalIdCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"evalIdCol '$evalIdCol' must be numeric — the argmax " +
        "tie-break negates it")
    // norms once per side row (bit-identical to cosine()); the
    // corpus side fans out when its scan is one narrow split so the
    // |corpus|×|eval| map pass uses the whole cluster
    val c = graft.GraftSession.fanOutForCompute(
        corpus.select(col(idCol).as("cid"),
          col(vecCol).cast("array<double>").as("ce")))
      .withColumn("cn", l2Norm(col("ce")))
    val t = evalSet.select(col(evalIdCol).as("eid"),
        col(vecCol).cast("array<double>").as("te"))
      .withColumn("tn", l2Norm(col("te")))
    c.crossJoin(broadcast(t))
      .select(col("cid"),
        struct(
          (dotF64(col("ce"), col("te")) /
            (col("cn") * col("tn"))).as("score"),
          (-col("eid")).as("neid"), col("eid").as("eid")).as("sc"))
      .groupBy(col("cid"))
      .agg(max(col("sc")).as("top"))
      .select(col("cid").as(idCol), col("top.eid").as("eval_id"),
        col("top.score").as("score"),
        (col("top.score") >= threshold).as("flagged"))
      .orderBy(col(idCol))
  }

  /** Margin-based pair mining between two embedding sets (Artetxe &
    * Schwenk 2019 §4.2, the "ratio" margin — the bitext/paraphrase
    * mining step multilingual and dedup pipelines run where raw
    * cosine fails: a hub vector that is close to EVERYTHING scores
    * high everywhere, so each pair's score is normalized by the two
    * sides' local k-NN score mass). Per pair:
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2)
    *
    * computed on trunc9 integer score sums (floor(cos·1e9) longs —
    * aggregation order can't move a bit, and both final divisions
    * are single IEEE ops, so a SQL oracle replays margins exactly).
    * Emitted pairs are MUTUAL margin-best (x's best y is x, and
    * vice versa; ties break on the partner id) with margin ≥
    * `marginThreshold`. Pairs whose combined top-k mass is ≤ 0
    * (adversarially anti-correlated sets) have no meaningful margin
    * and drop before ranking, declared.
    *
    * Scale: the right set broadcasts (the eval/pivot side — the
    * [[semanticDecontaminate]] contract); the left set never
    * shuffles whole. The full cross-score is the EXACT form — the
    * recall oracle; hot corpora run [[marginMiningShortlist]] over
    * the two directed ANN k-NN lists ([[ivfKnnLists]] /
    * [[NnDescent]]) instead — margins only ever read each side's
    * top-k neighborhood. */
  def marginMining(left: DataFrame, leftIdCol: String,
      right: DataFrame, rightIdCol: String, vecCol: String,
      k: Int = 4, marginThreshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1 ($k)")
    // norms once per side row, fanned-out left scan — the
    // [[bruteForceTopK]] discipline over the |L|×|R| exact pass;
    // scores stay bit-identical to cosine()
    val l = graft.GraftSession.fanOutForCompute(
        left.select(col(leftIdCol).as("lid"),
          col(vecCol).cast("array<double>").as("le")))
      .withColumn("ln", l2Norm(col("le")))
    val r = right.select(col(rightIdCol).as("rid"),
        col(vecCol).cast("array<double>").as("re"))
      .withColumn("rn", l2Norm(col("re")))
    val pairs = l.crossJoin(broadcast(r))
      .select(col("lid"), col("rid"),
        (dotF64(col("le"), col("re")) /
          (col("ln") * col("rn"))).as("score"))
    marginRank(pairs, k, marginThreshold)
  }

  /** PRODUCTION-SHAPE margin mining over a precomputed candidate
    * pair frame (`candidates(lid, rid)` — typically the union of
    * the two directed ANN k-NN lists from [[ivfKnnLists]] or
    * [[NnDescent.knnGraph]]): the exact [[marginMining]] arithmetic
    * (trunc9 integer top-k sums, single-IEEE divisions, mutual
    * margin-best windows) restricted to the candidate set. Margins
    * normalize by each side's top-k score mass WITHIN the candidate
    * set; when the shortlist contains each id's true top-k partner
    * set the masses — and hence every margin on a shortlisted
    * pair — equal the exact form's.
    *
    * Scale: cost is O(|candidates|) = O(n·k·nProbe-ish), never
    * |L|×|R|. Vectors arrive via two keyed shuffle joins (nothing
    * broadcasts — both sides are corpus-sized), then the same four
    * window/agg consumers as the exact form. */
  def marginMiningShortlist(left: DataFrame, leftIdCol: String,
      right: DataFrame, rightIdCol: String, vecCol: String,
      candidates: DataFrame, k: Int = 4,
      marginThreshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1 ($k)")
    // norms once per side row (n + m sqrt-dots) instead of per
    // candidate pair (3 dots × |candidates|); bit-identical scores
    val l = left.select(col(leftIdCol).as("lid"),
        col(vecCol).cast("array<double>").as("le"))
      .withColumn("ln", l2Norm(col("le")))
    val r = right.select(col(rightIdCol).as("rid"),
        col(vecCol).cast("array<double>").as("re"))
      .withColumn("rn", l2Norm(col("re")))
    val pairs = candidates.select(col("lid"), col("rid")).distinct()
      .join(l, "lid").join(r, "rid")
      .select(col("lid"), col("rid"),
        (dotF64(col("le"), col("re")) /
          (col("ln") * col("rn"))).as("score"))
    marginRank(pairs, k, marginThreshold)
  }

  /** The q305 MULTI-MODAL candidate device in one place (used by
    * the registered query, its recall spec, and ScaleBench — a
    * tuning change here changes all three together): candidate
    * (lid, rid) pairs between the EVEN- and ODD-id halves of `emb`,
    * as the union of two independent ANN devices, each blind to the
    * other's misses:
    *   (a) the two directed IVF k-NN lists over a √n-cell
    *       [[sampleCentroids]] quantizer (listK, nProbe);
    *   (b) the cross-parity edges of the [[NnDescent]] k-NN graph
    *       (graphK, graphIters).
    * Measured at sf0.001 (r11 sweep): union recall 0.987 vs the
    * exact mutual-best pairs, IVF alone 0.584, NN-descent alone
    * 0.909. Requires an integral id column (the parity split and
    * the IVF/NN-descent contract); `listK`, `nProbe`, `graphK` and
    * `corpusAssign` must be ≥ 1. */
  def parityMarginCandidates(emb: DataFrame, idCol: String,
      vecCol: String, listK: Int = 8, nProbe: Int = 4,
      graphK: Int = 12, graphIters: Int = 3,
      cellsOf: Long => Int = coarseCellCount(_),
      probesOf: Long => Int = _ => 0,
      corpusAssign: Int = 1): DataFrame = {
    // nProbe is also the count probesOf falls back to
    TopK.requirePositive("listK" -> listK, "nProbe" -> nProbe,
      "graphK" -> graphK, "corpusAssign" -> corpusAssign)
    require(graphIters >= 0, s"graphIters must be >= 0 ($graphIters)")
    TopK.requireIntegralId(emb, idCol)
    ivfParityCandidates(emb, idCol, vecCol, listK, nProbe, cellsOf,
      probesOf, corpusAssign, emb.count())
      .union(parityGraphEdges(emb, idCol, vecCol, graphK, graphIters))
  }

  /** The IVF leg of [[parityMarginCandidates]] — the two directed
    * k-NN lists, as (lid, rid) cross-parity pairs. Factored out so
    * the multi-device recall gate ([[annCandidateRecallGates]]) can
    * rebuild ONLY this leg per device while sharing the NN-descent
    * leg and the exact audit legs. */
  private def ivfParityCandidates(emb: DataFrame, idCol: String,
      vecCol: String, listK: Int, nProbe: Int, cellsOf: Long => Int,
      probesOf: Long => Int, corpusAssign: Int, n: Long): DataFrame = {
    val l = emb.filter(col(idCol) % 2 === 0)
    val r = emb.filter(col(idCol) % 2 === 1)
    // probesOf (the q331 recall-holding rule — [[probeCountScaled]])
    // overrides the static nProbe when it returns a positive count
    val probes = { val p = probesOf(n); if (p > 0) p else nProbe }
    val cents = sampleCentroids(emb, idCol, vecCol, cellsOf(n))
    val lr = ivfKnnLists(l, idCol, r, idCol, vecCol, cents,
      listK, probes, corpusAssign)
    val rl = ivfKnnLists(r, idCol, l, idCol, vecCol, cents,
      listK, probes, corpusAssign)
    lr.select(col("qid").as("lid"), col("cid").as("rid"))
      .union(rl.select(col("cid").as("lid"), col("qid").as("rid")))
  }

  /** The NN-descent leg of [[parityMarginCandidates]] — the
    * cross-parity undirected edges of the k-NN graph, as
    * (lid, rid). */
  private def parityGraphEdges(emb: DataFrame, idCol: String,
      vecCol: String, graphK: Int, graphIters: Int): DataFrame = {
    val g = NnDescent.knnGraph(emb, idCol, vecCol, graphK,
      graphIters)
    val und = g.select(col("u"), col("v"))
      .union(g.select(col("v").as("u"), col("u").as("v")))
    und.filter(col("u") % 2 === 0 && col("v") % 2 === 1)
      .select(col("u").as("lid"), col("v").as("rid"))
  }

  /** ANN candidate RECALL GATE — the q314 verdict-style audit for
    * the q305/q329 shortlist device: an approximation's published
    * contract is checked IN the run, and only stable verdicts are
    * emitted (the estimate itself is merge-order / operating-point
    * dependent and ungateable; the contract is not).
    *
    * Contract checked: for a deterministic md5-sampled query set
    * (≈`queryCap` per side — the q260 gate device, so the sample is
    * replayable in SQL and identical across runs/engines), each
    * query's EXACT cosine top-`k` over the FULL opposite parity
    * (brute force, bounded-heap aggregation — |S|·n dot products,
    * linear in n, nothing corpus-sized broadcasts) must appear in
    * the PRODUCTION candidate shortlist at rate ≥ `threshold`.
    * This audits the real [[parityMarginCandidates]] output — the
    * same frame q305 mines — not a scaled-down twin: at 100 TB the
    * exact leg stays |S|·n with S fixed, the one affordable way to
    * measure recall where full truth is a wall.
    *
    * Output: one row per direction —
    * (direction, n_queries, k, n_exact, n_hit, recall_ok).
    * n_queries/n_exact replay in SQL (gate arithmetic + |S|·min(k,
    * n_opposite)); recall_ok is the verdict the oracle ASSERTS
    * (q306/q314 ordering-gate device) — a run where the shortlist
    * lost recall flips the row red. n_hit is deterministic (every
    * score and tie-break is) but only spec-pinned, not
    * SQL-replayed; registered queries project it away. */
  def annCandidateRecallGate(emb: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, queryCap: Int = 512,
      threshold: Double = 0.85,
      cellsOf: Long => Int = coarseCellCount(_),
      probesOf: Long => Int = _ => 0,
      corpusAssign: Int = 1, graphK: Int = 12,
      graphIters: Int = 3): DataFrame =
    annCandidateRecallGates(emb, idCol, vecCol,
      Seq(AnnGateDevice("_", cellsOf, probesOf, corpusAssign,
        graphK, graphIters)), k, queryCap, threshold)

  /** One candidate-shortlist device under the multi-device recall
    * gate: the [[parityMarginCandidates]] knobs plus a label for the
    * verdict rows. */
  case class AnnGateDevice(name: String, cellsOf: Long => Int,
      probesOf: Long => Int = _ => 0, corpusAssign: Int = 1,
      graphK: Int = 12, graphIters: Int = 3)

  /** [[annCandidateRecallGate]] over SEVERAL devices at once — the
    * r15 shape of the q330 gate (guide §1.2 step 1: don't compute
    * things twice). The single-device form run per device rebuilt,
    * per device, (a) the exact brute-force audit legs — which do not
    * depend on the device at all — and (b) the NN-descent graph leg,
    * identical whenever two devices share (graphK, graphIters), as
    * q330's two IVF sizings do. Here the exact legs are built ONCE,
    * the graph leg once per distinct (graphK, graphIters), and only
    * the IVF leg is rebuilt per device. Verdict values are identical
    * to running the single-device gate per device: every shared
    * frame is deterministic and device-independent, and the joins/
    * aggregations consuming them are unchanged.
    *
    * Output: (device, direction, n_queries, k, n_exact, n_hit,
    * recall_ok) — one row per device per direction, unordered
    * (callers sort). With a SINGLE device the device column is
    * omitted and the result is the single-device gate's exact frame
    * (a bare eager LogicalRDD — the r13 freeing contract its spec
    * asserts). */
  def annCandidateRecallGates(emb: DataFrame, idCol: String,
      vecCol: String, devices: Seq[AnnGateDevice], k: Int = 4,
      queryCap: Int = 512, threshold: Double = 0.85): DataFrame = {
    require(k >= 1, s"k must be >= 1 ($k)")
    require(devices.nonEmpty, "need at least one device")
    val bridge = org.apache.spark.sql.graftbridge.CheckpointBridge
    val n = emb.count()
    def gate(side: DataFrame): DataFrame = {
      val ns = side.count()
      val keep = math.floor(
        1e6 * math.min(1.0, queryCap.toDouble / math.max(1L, ns)))
        .toLong
      side.filter(conv(substring(md5(concat(lit("rg:"),
        col(idCol).cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000000L < lit(keep))
    }
    // The exact audit legs (device-independent): md5-sampled queries,
    // brute-force top-k over the full opposite parity — built once,
    // consumed by every device's verdict join.
    val even = emb.filter(col(idCol) % 2 === 0)
    val odd = emb.filter(col(idCol) % 2 === 1)
    val dirs = Seq(("even_to_odd", even, odd), ("odd_to_even", odd, even))
      .map { case (dir, qs, corpus) =>
        val sq = gate(qs)
        val exact = bruteForceTopKHeap(sq, idCol, corpus, idCol,
            vecCol, k)
          .select(col("qid"), col("cid"))
          .localCheckpoint()
        val nQueries = sq.count()
        (dir, exact, nQueries)
      }
    // The NN-descent leg: once per distinct (graphK, graphIters) —
    // q330's two devices share one build where they used to run two.
    val graphs: Map[(Int, Int), DataFrame] = devices
      .map(d => (d.graphK, d.graphIters)).distinct
      .map { case cfg @ (gk, gi) =>
        cfg -> parityGraphEdges(emb, idCol, vecCol, gk, gi)
          .localCheckpoint()
      }.toMap
    val verdictRows = devices.map { d =>
      val cand = ivfParityCandidates(emb, idCol, vecCol, listK = 8,
          nProbe = 4, cellsOf = d.cellsOf, probesOf = d.probesOf,
          corpusAssign = d.corpusAssign, n = n)
        .union(graphs((d.graphK, d.graphIters)))
        .select(col("lid"), col("rid")).distinct()
        // built once per device, consumed by both direction audits
        .localCheckpoint()
      val byDir = Map(
        "even_to_odd" ->
          cand.select(col("lid").as("qid"), col("rid").as("cid")),
        "odd_to_even" ->
          cand.select(col("rid").as("qid"), col("lid").as("cid")))
      val rows = dirs.map { case (dir, exact, nQueries) =>
        val cols = Seq(lit(dir).as("direction"),
          lit(nQueries).as("n_queries"), lit(k).as("k"),
          col("n_exact"), col("n_hit"),
          (col("n_exact") === 0 ||
            col("n_hit").cast("double") >=
              lit(threshold) * col("n_exact").cast("double"))
            .as("recall_ok"))
        exact
          .join(byDir(dir).withColumn("_hit", lit(1L)),
            Seq("qid", "cid"), "left")
          .agg(count(lit(1)).as("n_exact"),
            coalesce(sum(col("_hit")), lit(0L)).as("n_hit"))
          .select((if (devices.size > 1)
            lit(d.name).as("device") +: cols else cols): _*)
      }.reduce(_ unionByName _)
      (cand, rows)
    }
    val verdicts = verdictRows.map(_._2).reduce(_ unionByName _)
      // Eager materialization of the (devices × 2)-row result so every
      // corpus-sized checkpoint below can be FREED here instead of
      // leaking to library callers (r13 verdict item 8).
      .localCheckpoint()
    verdictRows.foreach(v => bridge.freeCheckpointBlocks(v._1))
    graphs.values.foreach(bridge.freeCheckpointBlocks)
    dirs.foreach(d => bridge.freeCheckpointBlocks(d._2))
    verdicts
  }

  /** The shared margin arithmetic over a scored (lid, rid, score)
    * pair frame — trunc9 sums, margins, mutual-best filter. */
  private def marginRank(scored: DataFrame, k: Int,
      marginThreshold: Double): DataFrame = {
    val pairs = scored
      .withColumn("s9", floor(col("score") * 1e9).cast("long"))
      // 4 window/agg consumers below — score once, not four times
      .localCheckpoint()
    val rl = row_number().over(Window.partitionBy(col("lid"))
      .orderBy(desc("s9"), col("rid")))
    val rr = row_number().over(Window.partitionBy(col("rid"))
      .orderBy(desc("s9"), col("lid")))
    val ranked = pairs.withColumn("rl", rl).withColumn("rr", rr)
    val ax = ranked.filter(col("rl") <= k).groupBy(col("lid"))
      .agg(sum(col("s9")).as("ax9"))
    val ay = ranked.filter(col("rr") <= k).groupBy(col("rid"))
      .agg(sum(col("s9")).as("ay9"))
    val m = pairs.join(ax, "lid").join(ay, "rid")
      .filter(col("ax9") + col("ay9") > 0)
      .withColumn("margin", col("s9").cast("double") /
        ((col("ax9") + col("ay9")).cast("double") / lit(2.0 * k)))
    val bl = row_number().over(Window.partitionBy(col("lid"))
      .orderBy(desc("margin"), col("rid")))
    val br = row_number().over(Window.partitionBy(col("rid"))
      .orderBy(desc("margin"), col("lid")))
    m.withColumn("bl", bl).withColumn("br", br)
      .filter(col("bl") === 1 && col("br") === 1 &&
        col("margin") >= marginThreshold)
      .select(col("lid"), col("rid"), col("score"), col("margin"))
  }
}
