package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextFunctions, VectorFunctions}
import graft.operators._

/** The canonical chunk record at the API boundary (SURVEY §1.3). */
case class Chunk(
    chunk_id: String, document_id: String, source_file: String,
    trace_id: String, chunk: String, `type`: String, engine: String,
    hash: String, page: Int, chunk_index: Int, total_chunks: Int,
    embedding: Array[Float], metadata: Map[String, String])

/** Public facade — the engine's front door for a user migrating off
  * the reference system. Everything returns lazy DataFrames/Datasets;
  * nothing touches the driver.
  *
  * {{{
  * val spark  = GraftSession.build("local[32]", 32)
  * val docs   = spark.read.parquet(".../documents.parquet")
  *   .select(concat(lit("doc"), $"doc_id", lit(".md")).as("source_file"),
  *           $"text")
  * val chunks = Graft.ingestMarkdown(docs)          // §3.2 ingest slice
  * val index  = Graft.withMockEmbeddings(chunks, 32)
  * Graft.writeIndex(index, "/indexes/demo")          // S7 sink
  * val hits   = Graft.search(index, queries, k = 4)  // §3.1 query slice
  * val dedup  = Graft.nearDupDedup(docs, "doc_id", "text")
  * }}}
  */
object Graft {

  // ---- ingest (§3.2) -------------------------------------------------

  /** Markdown batch → canonical chunk rows (front-matter, murmur3
    * ids, hierarchical zero-drop chunking, passage enrichment). */
  def ingestMarkdown(docs: DataFrame): DataFrame =
    Ingest.ingestMarkdown(docs)

  /** Typed view of a chunk frame. Missing canonical columns are
    * defaulted (F12). */
  def asChunks(df: DataFrame)(implicit s: SparkSession): Dataset[Chunk] = {
    import s.implicits._
    val defaults: Map[String, org.apache.spark.sql.Column] = Map(
      "trace_id" -> lit(""), "total_chunks" -> lit(0),
      "embedding" -> lit(null).cast("array<float>"),
      "metadata" -> lit(null).cast("map<string,string>"),
      "type" -> lit("unknown"), "engine" -> lit("unknown"),
      "hash" -> lit(""), "page" -> lit(-1), "chunk_index" -> lit(0))
    val cols = Ingest.ChunkSchema.fields.map { f =>
      // defaults are pre-typed; casting a NULL array<float> onto the
      // containsNull=false schema type is rejected by the analyzer
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else defaults(f.name)).as(f.name)
    }
    df.select(cols.toSeq: _*).as[Chunk]
  }

  /** Attach deterministic mock embeddings (external-embedder stand-in,
    * SURVEY §7 hard part 3). */
  def withMockEmbeddings(chunks: DataFrame, dim: Int): DataFrame =
    chunks.withColumn("embedding",
      VectorFunctions.mockEmbedding(col("chunk"), dim))

  /** V1: attach embeddings through the external-service boundary
    * (micro-batched, retried, `"passage: "`-aware — the production
    * path; [[Embed.HashEmbeddingService]] is the hermetic stand-in). */
  def withEmbeddings(chunks: DataFrame,
      service: Embed.EmbeddingService): DataFrame =
    Embed.embedText(chunks, "chunk", "embedding", service)

  /** V2: embed a (qid, qtext) query frame with the `"query: "`
    * prefix. */
  def embedQueries(queries: DataFrame,
      service: Embed.EmbeddingService): DataFrame =
    Embed.embedText(queries, "qtext", "embedding", service,
      prefix = Embed.QueryPrefix)

  /** S7/S8: bucketed index + archive writes. */
  def writeIndex(index: DataFrame, dir: String): Unit =
    Index.write(Index.buildPoints(index), dir)
  def writeArchive(chunks: DataFrame, dir: String): Unit =
    Ingest.writeArchive(chunks, dir)

  // ---- query (§3.1) --------------------------------------------------

  /** Cosine top-k retrieval + context assembly over an embedded index
    * (queries: (qid, embedding)). */
  def search(index: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Rag.retrieve(index, queries, k)

  /** Hybrid dense+sparse search with DBSF fusion (V4/V5). */
  def hybridSearch(index: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    Hybrid.hybridSearch(index, "chunk_id", "chunk", "embedding",
      queries, "qid", "qtext", "embedding", k)

  // ---- training-data pipeline ---------------------------------------

  def exactDedup(df: DataFrame, id: String, text: String): DataFrame =
    Dedup.exactDedup(df, id, text)

  /** Near-dup dedup: MinHash-LSH candidates → exact-Jaccard verify →
    * connected-components min-id collapse. */
  def nearDupDedup(df: DataFrame, id: String, text: String,
      threshold: Double = 0.8): DataFrame =
    Dedup.nearDupDedup(df, id, text, threshold)
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    Dedup.simhash(df, id, text)

  /** SimHash near-dup pairs via banded LSH (pigeonhole recall up to
    * Hamming bands−1). */
  def simhashNearDups(df: DataFrame, id: String, text: String,
      bands: Int = 6, maxHamming: Int = 5): DataFrame =
    Dedup.simhashNearDups(df, id, text, bands, maxHamming)

  /** Embedding near-dup pairs via banded hyperplane-LSH candidates +
    * exact cosine verify (threshold ≥ ~0.9 for the recall bound). */
  def embeddingNearDups(df: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame =
    Dedup.embeddingNearDups(df, id, vec, threshold)

  /** Exact k-NN through the bounded-heap default path. */
  def knn(queries: DataFrame, qid: String, corpus: DataFrame,
      cid: String, vec: String, k: Int): DataFrame =
    SimilaritySearch.bruteForceTopKHeap(queries, qid, corpus, cid, vec, k)

  /** Approximate k-NN: IVF over k-means cells (deterministic
    * Lloyd's); raise `nProbe` to trade speed for recall. */
  def ann(queries: DataFrame, qid: String, corpus: DataFrame,
      cid: String, vec: String, k: Int, cells: Int = 64,
      nProbe: Int = 2): DataFrame = {
    val cents = SimilaritySearch.kmeansCentroids(corpus, cid, vec, cells)
    SimilaritySearch.ivfTopK(queries, qid, corpus, cid, vec, cents,
      k, nProbe)
  }

  // ---- streaming (§2.13 / §3.2) -------------------------------------

  /** Continuous ingest: staging dir → chunk → per-file barrier →
    * embed → bucketed parquet index (see `StreamingIngest`). */
  def streamIngest(spark: SparkSession, stagingDir: String,
      indexDir: String, checkpointDir: String,
      service: Embed.EmbeddingService = new Embed.HashEmbeddingService(32))
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingIngest.start(spark, stagingDir, indexDir,
      checkpointDir, service)

  /** Per-document text-analysis features (token stats, quality,
    * language, fingerprint). */
  def textFeatures(df: DataFrame, text: String,
      stop: Seq[String] = Seq("the", "a")): DataFrame =
    df.withColumn("n_tokens", TextFunctions.tokenCount(col(text)))
      .withColumn("uniq_ratio", TextFunctions.uniqueWordRatio(col(text)))
      .withColumn("quality", TextFunctions.qualityScore(col(text), stop))
      .withColumn("lang_guess", TextFunctions.langIdHeuristic(col(text)))
      .withColumn("fingerprint",
        TextFunctions.rollingFingerprint(col(text)))

  /** fastembed-style sparse BM25 document embedding (`Qdrant/bm25`
    * surface): (id, n_terms, indices, values) per document — see
    * [[operators.SparseBm25]] for the parity contract. Pass
    * `stemmed = true` for the full fastembed pipeline (Snowball
    * English stemming between stopword removal and hashing). */
  def sparseEmbed(df: DataFrame, id: String, text: String,
      stemmed: Boolean = false): DataFrame =
    if (stemmed) operators.SparseBm25.embedStemmed(df, id, text)
    else operators.SparseBm25.embed(df, id, text)

  /** Corpus-trained bigram-LM surprisal (perplexity-filter signal),
    * CJK-aware tokens. */
  def lmSurprisal(df: DataFrame, id: String, text: String): DataFrame =
    operators.LanguageModel.bigramSurprisal(df, id, text)

  /** DSIR importance weights of `df` against the `isTarget` slice. */
  def dsirWeights(df: DataFrame, id: String, text: String,
      isTarget: org.apache.spark.sql.Column): DataFrame =
    operators.Importance.dsirWeights(df, id, text, isTarget)

  /** Fuzzy entity resolution: distinct-value pairs within `maxDist`
    * edits (q-gram index + residual path; no cartesian anywhere). */
  def fuzzyMatches(df: DataFrame, name: String,
      maxDist: Int = 2): DataFrame =
    operators.Dedup.fuzzyMatches(df, name, maxDist)

  /** Bipartite probe-vs-catalog fuzzy join (Levenshtein ≤ maxDist)
    * via the df-capped q-gram candidate device; (lid, rid, dist). */
  def fuzzyJoin(left: DataFrame, leftId: String, leftName: String,
      right: DataFrame, rightId: String, rightName: String,
      maxDist: Int = 2): DataFrame =
    operators.Dedup.fuzzyJoin(left, leftId, leftName,
      right, rightId, rightName, maxDist)

  /** Margin-based pair mining (Artetxe & Schwenk ratio margin)
    * between two embedding sets — the EXACT cross-score form; for
    * corpus-scale inputs use [[marginMiningAnn]]. */
  def marginMining(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String, vec: String,
      k: Int = 4, threshold: Double = 1.0): DataFrame =
    operators.SimilaritySearch.marginMining(left, leftId,
      right, rightId, vec, k, threshold)

  /** Production-shape margin mining: the identical margin
    * arithmetic over the union of the two directed IVF k-NN
    * shortlists (O(n·k) candidate pairs, never |L|×|R|). */
  def marginMiningAnn(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String, vec: String,
      centroids: DataFrame, k: Int = 4, threshold: Double = 1.0,
      listK: Int = 8, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lr = operators.SimilaritySearch.ivfKnnLists(left, leftId,
      right, rightId, vec, centroids, listK, nProbe)
    val rl = operators.SimilaritySearch.ivfKnnLists(right, rightId,
      left, leftId, vec, centroids, listK, nProbe)
    val cand = lr.select(col("qid").as("lid"), col("cid").as("rid"))
      .union(rl.select(col("cid").as("lid"), col("qid").as("rid")))
    operators.SimilaritySearch.marginMiningShortlist(left, leftId,
      right, rightId, vec, cand, k, threshold)
  }

  /** Evenly-sampled video key frames as opaque coded bytes: one row
    * per (media row, frame). Real containers: MJPEG-AVI, MP4/MOV
    * (ISO BMFF sample tables), Matroska/WebM (EBML cluster walk);
    * anything else hits the deterministic stub boundary. */
  def sampleVideoFrames(media: DataFrame, n: Int): DataFrame =
    operators.Multimodal.sampleFrames(media,
      operators.MultimodalCodecs.JdkImageDecoder, n)

  /** Perceptual near-duplicate image pairs (dHash64 + banded Hamming
    * join) over a (media_id, bytes) frame — the image-dedup step of
    * a multimodal training pipeline. */
  def imageNearDups(media: DataFrame, maxHamming: Int = 7): DataFrame =
    operators.Multimodal.imageNearDups(media, maxHamming = maxHamming)

  /** WebDataset tar-shard source: every `*.tar` under `dir` becomes
    * (shard, sample, ext→bytes map) rows — shard-parallel, members
    * stay opaque binary for the multimodal operators. */
  def readTarSamples(spark: SparkSession, dir: String): DataFrame =
    operators.TarShards.readSamples(spark, dir)

  /** WebDataset tar-shard sink: (sample, ext→bytes map) rows become
    * `shard-NNNNN.tar` files under `dir` — md5-bucketed,
    * bit-reproducible, readable by tar/tarfile/readTarSamples. */
  def writeTarShards(samples: DataFrame, dir: String,
      shards: Int): Unit =
    operators.TarShards.writeShards(samples, dir, shards)

  /** Exact contiguous-phrase matches: (id, n_matches, first_pos) per
    * matching document — overlap-correct positional intersection
    * ([[operators.Hybrid.phraseMatches]]). */
  def phraseSearch(df: DataFrame, id: String, text: String,
      phrase: String): DataFrame =
    operators.Hybrid.phraseMatches(df, id, text, phrase)

  /** JL random projection of `vec` (inDim → outDim) appended as
    * `proj` — deterministic ±1 sign matrix, pure per-row codegen, no
    * shuffle ([[operators.Projection]]). */
  def randomProjection(df: DataFrame, vec: String, inDim: Int,
      outDim: Int): DataFrame =
    operators.Projection.project(df, vec, inDim, outDim)

  /** Maximal duplicated character spans across the corpus (the
    * ExactSubstr dedup report, Lee et al. 2021): per document,
    * merged [start, end) regions whose stride-1 `window`-char
    * windows recur anywhere in the corpus. */
  def repeatedSpans(df: DataFrame, id: String, text: String,
      window: Int = 48): DataFrame =
    operators.Dedup.repeatedCharSpans(df, id, text, window)

  /** Near-dup dedup keeping each cluster's best row by `rank` (max,
    * ties → min id) — the keep-longest / keep-highest-quality policy
    * ([[operators.Dedup.nearDupDedupBy]]). */
  def nearDupDedupBy(df: DataFrame, id: String, text: String,
      rank: String, threshold: Double = 0.8): DataFrame =
    operators.Dedup.nearDupDedupBy(df, id, text, rank, threshold)

  /** Per-node triangle counts + local clustering coefficients over an
    * undirected edge list (degree-ordered enumeration,
    * [[operators.Graph.triangleStats]]). */
  def triangles(edges: DataFrame): DataFrame =
    operators.Graph.triangleStats(edges)

  /** Degree assortativity coefficient (one row,
    * [[operators.Graph.assortativity]]). */
  def assortativity(edges: DataFrame): DataFrame =
    operators.Graph.assortativity(edges)

  /** Top-k node pairs by shared-neighbor Jaccard (co-citation
    * similarity, [[operators.Graph.sharedNeighborSimilarity]]). */
  def relatedNodes(edges: DataFrame, minShared: Int = 2,
      k: Int = 50): DataFrame =
    operators.Graph.sharedNeighborSimilarity(edges,
      minShared = minShared, k = k)

  /** Drop rows whose `key` is on the broadcast blocklist
    * ([[operators.Corpus.blocklistFilter]]). */
  def blocklistFilter(df: DataFrame, key: String,
      blocked: DataFrame): DataFrame =
    operators.Corpus.blocklistFilter(df, key, blocked)

  /** Exact per-group quantiles of an integer-valued column from its
    * value histogram ([[operators.Corpus.exactQuantiles]]). */
  def quantiles(df: DataFrame, group: String, value: String,
      qs: Seq[(String, Double)]): DataFrame =
    operators.Corpus.exactQuantiles(df, group, value, qs)

  /** Curriculum training order: score-ascending NTILE buckets,
    * round-robin interleaved ([[operators.Corpus.curriculumInterleave]];
    * exact global rank without a single-partition window). */
  def curriculum(df: DataFrame, score: String, id: String,
      buckets: Int = 5): DataFrame =
    operators.Corpus.curriculumInterleave(df, score, id, buckets)

  /** Flesch reading-ease stats per document
    * ([[operators.Corpus.readabilityStats]]). */
  def readability(df: DataFrame, id: String, text: String): DataFrame =
    operators.Corpus.readabilityStats(df, id, text)

  /** Top-k PMI bigram collocations
    * ([[operators.Corpus.pmiCollocations]]). */
  def collocations(df: DataFrame, text: String, minCount: Int = 5,
      k: Int = 30): DataFrame =
    operators.Corpus.pmiCollocations(df, text, minCount, k)

  /** ROUGE-1/2 overlap statistics per (candidate, reference) pair
    * ([[operators.Eval.rougeStats]]). */
  def rouge(pairs: DataFrame, cand: String, ref: String): DataFrame =
    operators.Eval.rougeStats(pairs, cand, ref)

  /** The k-core of an undirected edge list: nodes surviving
    * iterative degree-≥-k peeling, with within-core degrees
    * ([[operators.Graph.kCore]]). */
  def kCore(edges: DataFrame, k: Int): DataFrame =
    operators.Graph.kCore(edges, k)

  /** Distinct-count estimate per group from a k-long mergeable KMV
    * sketch ([[operators.Sketches.kmvDistinct]]). */
  def distinctEstimate(df: DataFrame, group: String, value: String,
      k: Int = 128): DataFrame =
    Sketches.kmvDistinct(df, group, value, k)

  /** Union / intersection / Jaccard estimates between every pair of
    * group sketches, from the sketches alone
    * ([[operators.Sketches.kmvSetOps]]). */
  def sketchSetOps(df: DataFrame, group: String, value: String,
      k: Int = 128): DataFrame =
    Sketches.kmvSetOps(df, group, value, k)

  /** Point-frequency estimates for `probes` from a d×w count-min
    * sketch of `terms` ([[operators.Sketches.cmsEstimates]]). */
  def frequencyEstimates(terms: DataFrame, termCol: String,
      probes: DataFrame, probeCol: String): DataFrame =
    Sketches.cmsEstimates(terms, termCol, probes, probeCol)

  /** Column profile with exact null accounting and HLL-sketched
    * distinct counts ([[operators.Profile.profileSketched]]) — the
    * form that scales to arbitrary corpora. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    operators.Profile.profileSketched(df, cols)

  /** BFS hop distance from a seed set over an edge list
    * ([[operators.Graph.hopDistance]]) — the distance-from-trusted-
    * sources prior. */
  def hopDistance(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      directed: Boolean = false): DataFrame =
    operators.Graph.hopDistance(edges, seeds, maxHops, directed)

  /** Synchronous label-propagation communities over an edge list
    * ([[operators.Graph.labelPropagation]]). */
  def communities(edges: DataFrame, iters: Int = 4): DataFrame =
    operators.Graph.labelPropagation(edges, iters)

  /** Fill-in-the-middle training records with deterministic cuts
    * and PSM/SPM sentinel orders ([[operators.Fim.transform]]). */
  def fim(docs: DataFrame, id: String, text: String,
      fimRate: Double = 0.5, spmRate: Double = 0.5): DataFrame =
    operators.Fim.transform(docs, id, text, fimRate, spmRate)

  /** Chat-template SFT records with a loss-mask character boundary
    * ([[operators.Sft.renderChat]]). */
  def sftRecords(docs: DataFrame, id: String, text: String,
      promptTokens: Int = 12): DataFrame =
    operators.Sft.renderChat(docs, id, text,
      promptTokens = promptTokens)

  /** Chosen/rejected preference pairs per group under a score
    * column ([[operators.Sft.preferencePairs]]). */
  def preferencePairs(scored: DataFrame, groupCols: Seq[String],
      id: String, score: String): DataFrame =
    operators.Sft.preferencePairs(scored, groupCols, id, score)

  /** Content-defined chunks (gear rolling hash, FastCDC-style size
    * bounds) — edit-resilient chunk boundaries for chunk-hash dedup
    * ([[operators.Cdc.chunks]]). */
  def cdcChunks(docs: DataFrame, id: String, text: String,
      divisor: Int = 64, minSize: Int = 16,
      maxSize: Int = 256): DataFrame =
    operators.Cdc.chunks(docs, id, text, divisor, minSize, maxSize)

  /** Train a unigram-LM subword vocabulary: seed from substring
    * frequencies, then `emSteps` EM rounds
    * ([[operators.Unigram]]). Returns (piece, usage|freq, cost). */
  def trainUnigramVocab(docs: DataFrame, text: String,
      emSteps: Int = 1): DataFrame = {
    val w = operators.Unigram.words(docs, text)
    (1 to emSteps).foldLeft(operators.Unigram.seedVocab(w)) {
      (v, _) => operators.Unigram.emStep(w, v)
    }
  }

  /** Viterbi-segment corpus words under a (piece, cost) vocabulary
    * ([[operators.Unigram.segment]]). */
  def segmentWords(docs: DataFrame, text: String,
      vocab: DataFrame): DataFrame =
    operators.Unigram.segment(operators.Unigram.words(docs, text),
      vocab)

  /** NN-descent k-NN graph over an embedding column — the
    * graph-based ANN build path ([[operators.NnDescent.knnGraph]]). */
  def knnGraph(emb: DataFrame, id: String, vec: String, k: Int = 6,
      iters: Int = 2): DataFrame =
    operators.NnDescent.knnGraph(emb, id, vec, k, iters)

  /** Multi-turn chat transcripts from an event log: gap
    * sessionization + alternating roles + turn cap
    * ([[operators.Sft.assembleConversations]]). */
  def conversations(events: DataFrame, user: String, ts: String,
      order: String, text: String, gapMinutes: Int = 30,
      maxTurns: Int = 8): DataFrame =
    operators.Sft.assembleConversations(events, user, ts, order,
      text, gapMinutes, maxTurns)

  /** Reciprocal-rank fusion of quality scorers on incompatible
    * scales ([[operators.Corpus.rrfFusion]]). */
  def qualityFusion(scored: DataFrame, id: String,
      scoreCols: Seq[String], kRrf: Int = 60): DataFrame =
    operators.Corpus.rrfFusion(scored, id, scoreCols, kRrf)

  /** Exactly-k-per-group deterministic sample
    * ([[operators.Split.sampleKPerGroup]]). */
  def sampleKPerGroup(df: DataFrame, groupCols: Seq[String],
      key: String, k: Int): DataFrame =
    operators.Split.sampleKPerGroup(df, groupCols, key, k)

  /** EXACT Jaccard-threshold similarity self-join via prefix
    * filtering — no false negatives
    * ([[operators.Dedup.jaccardPrefixJoin]]). */
  def similarPairsExact(docs: DataFrame, id: String, text: String,
      tau: Double = 0.7): DataFrame =
    operators.Dedup.jaccardPrefixJoin(docs, id, text, tau)

  /** Chunk-hash near-dup pairs over content-defined chunks —
    * edit-shift-robust ([[operators.Cdc.sharedChunkPairs]]). */
  def chunkDedupPairs(docs: DataFrame, id: String, text: String,
      minShared: Int = 2): DataFrame =
    operators.Cdc.sharedChunkPairs(docs, id, text,
      minShared = minShared)

  /** Both leading principal axes (power iteration + Hotelling
    * deflation) ([[operators.Pca.topTwoAxes]]). */
  def principalAxes(df: DataFrame, vec: String,
      iters: Int = 8): DataFrame =
    operators.Pca.topTwoAxes(df, vec, iters)

  /** Unit-variance 2-component whitened embedding projection
    * ([[operators.Pca.whitenedProject2]]). */
  def whiten2(df: DataFrame, id: String, vec: String,
      iters: Int = 8): DataFrame =
    operators.Pca.whitenedProject2(df, id, vec, iters)

  /** Embedding-space eval-set decontamination — nearest eval
    * neighbor + contamination flag
    * ([[operators.SimilaritySearch.semanticDecontaminate]]). */
  def semanticDecontaminate(corpus: DataFrame, id: String,
      evalSet: DataFrame, evalId: String, vec: String,
      threshold: Double = 0.9): DataFrame =
    operators.SimilaritySearch.semanticDecontaminate(corpus, id,
      evalSet, evalId, vec, threshold)

  /** Token-distribution drift (KL both ways + JS) between a corpus
    * slice and its complement
    * ([[operators.Corpus.distributionDrift]]). */
  def distributionDrift(docs: DataFrame, text: String,
      sliceA: org.apache.spark.sql.Column): DataFrame =
    operators.Corpus.distributionDrift(docs, text, sliceA)

  // ---- r12: eval harness + selection + audits ------------------------

  /** Unbiased pass@k per problem (Chen et al. 2021) over an
    * n-sample candidate table; (problem, k, n, c, pass_at_k). */
  def passAtK(candidates: DataFrame, problem: String,
      correct: String, ks: Seq[Int]): DataFrame =
    operators.Eval.passAtK(candidates, col(problem), col(correct), ks)

  /** Self-consistency majority voting (Wang et al. 2022): modal
    * answer, vote share, consensus correctness per problem. */
  def consensusVote(candidates: DataFrame, problem: String,
      answer: String, correct: String): DataFrame =
    operators.Eval.consensusVote(candidates, col(problem),
      col(answer), col(correct))

  /** RHO-style excess-loss selection (Mindermann et al. 2022):
    * top-⌈ρ·n⌉ examples by model-minus-reference loss, ties at the
    * threshold all kept. */
  def excessLossSelect(df: DataFrame, id: String, loss: String,
      refLoss: String, rho: Double): DataFrame =
    operators.Reweighting.excessLossSelect(df, id, loss, refLoss, rho)

  /** Pearson chi-squared independence audit of two categorical
    * columns against a caller-pinned critical value. */
  def chiSquaredIndependence(df: DataFrame, rowCol: String,
      colCol: String, crit: Double): DataFrame =
    operators.HypothesisTests.chiSquaredIndependence(df,
      col(rowCol), col(colCol), crit)

  /** Fuzzy-blocking liveness diagnostic: (n_names, df_cap,
    * n_residual, residual_share) for the q-gram entity-resolution
    * devices under the AutoDf quantile cap. */
  def fuzzyBlockingStats(df: DataFrame, name: String): DataFrame =
    operators.Dedup.fuzzyBlockingStats(df, name)

  // ---- r12.2: dedup-aware eval + per-variant audits -------------------

  /** Duplicate-corrected pass@k: per k, the naive problem mean next
    * to the cluster-mean-of-means over `clusters(problem, cluster)`
    * — the gap is the eval set's duplication bias. */
  def passAtKDedupAware(candidates: DataFrame, problem: String,
      correct: String, clusters: DataFrame,
      ks: Seq[Int]): DataFrame =
    operators.Eval.passAtKDedupAware(candidates, col(problem),
      col(correct), clusters, ks)

  /** Per-variant chi-squared independence audit (one test per value
    * of `variant`, single corpus pass) — drive with planted effect
    * sizes for a detection-threshold power sweep. */
  def chiSquaredIndependenceBy(df: DataFrame, variant: String,
      rowCol: String, colCol: String, crit: Double): DataFrame =
    operators.HypothesisTests.chiSquaredIndependenceBy(df,
      col(variant), col(rowCol), col(colCol), crit)

  /** RHO threshold arithmetic over a per-excess count table — the
    * batch anchor for [[streaming.StreamingOps.streamingExcessCounters]]
    * live snapshots. */
  def excessThresholdFromCounts(dist: DataFrame, excess: String,
      cnt: String, rho: Double): DataFrame =
    operators.Reweighting.excessThresholdFromCounts(dist, excess,
      cnt, rho)

  /** GRPO-style group-normalized advantage (Shao et al. 2024): per
    * sample, (reward − group mean) / group std, with zero-variance
    * groups flagged as null-advantage diagnostics. */
  def groupNormalizedAdvantage(df: DataFrame, problem: String,
      sample: String, reward: String): DataFrame =
    operators.Eval.groupNormalizedAdvantage(df, col(problem),
      col(sample), col(reward))

  /** Unbiased best-of-n yield curve (the WebGPT BoN estimator) per
    * problem over an N-sample reward table; n > N rows are null
    * diagnostics. */
  def bestOfNCurve(df: DataFrame, problem: String, sample: String,
      reward: String, ns: Seq[Int]): DataFrame =
    operators.Eval.bestOfNCurve(df, col(problem), col(sample),
      col(reward), ns)

  /** GRPO advantage arithmetic over a (problem, r9, cnt) counter
    * table — the batch anchor for
    * [[streaming.StreamingOps.streamingRewardCounters]] live
    * snapshots. */
  def advantageFromCounts(counts: DataFrame): DataFrame =
    operators.Eval.advantageFromCounts(counts)
}
