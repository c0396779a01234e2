package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{dotF64, l2Norm}

/** NN-descent k-NN graph construction (Dong, Moses & Li 2011,
  * "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures") — the graph-based ANN family next to the
  * engine's IVF, PQ and hyperplane-LSH paths, and the build step
  * under HNSW/DiskANN-style serving: start from a pseudo-random
  * k-NN guess and repeatedly let every node compare itself against
  * its neighbors' neighbors, keeping the best k. Converges in a few
  * rounds because "a neighbor of a neighbor is likely a neighbor".
  *
  * Shapes, per round: undirected edge closure (union + distinct),
  * ONE self-join for neighbor-of-neighbor candidates (bounded by
  * (2k)² per node — the paper's B[v]×B[v] join, here without the
  * ρ-sampling knob since k is small), two embedding lookups to
  * score, and a per-node bounded top-k heap. All keyed shuffles, no
  * cartesian, no driver state beyond one bounded count;
  * `localCheckpoint` cuts lineage between rounds (swap for reliable
  * checkpoint on a cluster, as in [[Graph]]).
  *
  * Determinism (oracle-replayable): init neighbor j of the node at
  * dense rank i is the node at rank (i + 1 + md5₍₈₎("nn:id:j") mod
  * (n−1)) mod n — a pure hash function of (id, j); scores are the
  * left-to-right double cosine that matches DuckDB's
  * list_dot_product bit-for-bit; ties break on neighbor id. The
  * init ranking comes from [[Corpus.globalRank]] (range-partitioned
  * two-pass zipWithIndex) — identical ranks to `row_number() OVER
  * (ORDER BY id)` with NO single-partition sort at any scale.
  *
  * Ids must be integral (checked at entry; they ride the
  * [[TopK.perQueryDedup]] long buffer).
  *
  * Output: (u, v, score, rnk) — directed k-NN lists, rnk 1..k. */
object NnDescent {

  /** 0-based dense rank of every id in id order — the scale-correct
    * form of `row_number().over(Window.orderBy("id")) - 1`. */
  private def denseIndex(v: DataFrame): DataFrame =
    Corpus.globalRank(v.select(col("id")), Seq(col("id")), "__r")
      .select(col("id"), (col("__r") - 1L).as("i"))

  private def h8(salt: String, a: Column, b: Column): Column =
    conv(substring(md5(concat(lit(s"$salt:"), a, lit(":"), b)),
      1, 8), 16, 10).cast("long")

  /** Pseudo-random (hash-derived) initial k-NN guess, scored. */
  def initGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 6): DataFrame = {
    TopK.requirePositive("k" -> k)
    TopK.requireIntegralId(emb, idCol)
    val v = vecs(emb, idCol, vecCol)
    val n = v.count()
    require(n >= 2 && k < n,
      s"need 2 <= k+1 <= n (k=$k, n=$n)")
    val idx = denseIndex(v)
    val edges = idx
      .select(col("id"), col("i"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("ti",
        (col("i") + lit(1L) + h8("nn", col("id"), col("j"))
          % lit(n - 1)) % lit(n))
      .join(idx.select(col("i").as("ti"), col("id").as("v")), "ti")
      .select(col("id").as("u"), col("v"))
    // duplicate (u, v) draws collapse inside score()'s dedup heap
    score(edges, v, k)
  }

  /** One NN-descent refinement round over a scored graph. */
  def refine(graph: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, k: Int = 6): DataFrame = {
    TopK.requireIntegralId(emb, idCol)
    val v = vecs(emb, idCol, vecCol)
    // The undirected closure is a TINY id-pair frame (n·2k rows), but
    // it seeds the round's dominant compute: the neighbor-of-neighbor
    // self-join fans it out to n·(2k)² candidate pairs. Left to AQE,
    // the closure's post-distinct width collapses to 1-2 partitions
    // (a few MB of ids) and the whole wedge enumeration serializes
    // onto 1-2 cores (r14 StageProbe: a 4.3 s-CPU stage on 2 tasks at
    // sf0.1). One explicit round-robin exchange of the 2k·n id rows
    // buys full-width enumeration — at cluster scale the frame is
    // already wide and the exchange moves ~16 bytes/row, negligible
    // against the (2k)²-fanout stage it parallelizes (guide §2.5:
    // partition for the stage's OUTPUT work, not its input bytes).
    val und = graph.select(col("u"), col("v"))
      .union(graph.select(col("v").as("u"), col("u").as("v")))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col("u"), col("v"))
      .distinct()
    val cand = und.as("a")
      .join(und.as("b"), col("a.v") === col("b.u"))
      .select(col("a.u").as("u"), col("b.v").as("v"))
      .filter(col("u") =!= col("v"))
    // the candidate stream keeps its duplicates (one per shared
    // middle): score() dedups inside the bounded-heap top-k, which
    // measured ~25× cheaper than a distinct over the O(n·k²) stream
    // followed by a ranked window (SegProbe r14)
    score(cand.union(graph.select(col("u"), col("v"))), v, k)
  }

  /** Init + `iters` refinement rounds. `idCol` must be integral and
    * `k` ≥ 1 (checked at entry; string ids go through
    * [[SimilaritySearch.bruteForceTopKHeap]]). Rows with a NULL
    * vector are filtered out first: they are never a node. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 6, iters: Int = 2): DataFrame = {
    require(iters >= 0, s"iters >= 0 ($iters)")
    // Round tables roll like Graph.roll: once round i's checkpoint
    // is materialized, round i-1's blocks are provably dead (the
    // new checkpoint is a bare leaf) — free them instead of leaking
    // one graph-sized RDD per round for the session's life. On
    // DEEP builds (iters >= 4 — the q331/q332 k=24×5 device) also
    // nudge a driver GC per round: each round's candidate closure
    // shuffles O(n·k²) pairs, and ContextCleaner reclaims those
    // shuffle files only after the driver GCs the dead exchange
    // objects — without the nudge a large-n build accumulates every
    // round's shuffle on disk at once (the r14 sf10 gate run filled
    // 73 GB of spill and died on ENOSPC). Shallow builds (iters
    // ≤ 3: q211/q305/q329/q330) skip the GC — their accumulation is
    // bounded and the pause is not free.
    var cur = initGraph(emb, idCol, vecCol, k)
    var prevCk: DataFrame = null
    for (_ <- 1 to iters) {
      val ck = cur.localCheckpoint()
      if (prevCk != null) {
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .freeCheckpointBlocks(prevCk)
        if (iters >= 4) System.gc()
      }
      cur = refine(ck, emb, idCol, vecCol, k)
      prevCk = ck
    }
    cur
  }

  /** Graph-based ANN SERVING over a built k-NN graph (the HNSW
    * layer-0 search discipline, batched): every query starts at a
    * hash-derived entry node and runs `steps` rounds of best-first
    * beam expansion — expand the beam's out-neighbors, score
    * against the query, keep the best `beam` (the union with the
    * previous beam makes the best-so-far set monotone, so the walk
    * cannot regress even without an explicit visited set). Returns
    * the top `k` per query.
    *
    * Shapes, per round: beam × graph equi-join on the node id
    * (≤ beam·k candidate edges per query), one embedding lookup,
    * one per-query top-beam window; queries ride along as rows, so
    * a million queries batch through the same three keyed shuffles.
    * Deterministic: the entry nodes and every tie (score desc, id)
    * are pure functions of the inputs — the oracle unrolls the
    * rounds.
    *
    * CONNECTIVITY: a pure k-NN graph over strongly clustered data
    * fragments into per-cluster islands a single walk cannot leave
    * (the failure HNSW's upper layers and NSW's long random links
    * exist to fix). The batch remedies here: `entries` hash-derived
    * entry points per query (each island reachable with prob.
    * ≈ its mass × entries), and/or union the [[initGraph]] edges —
    * random long links — into the serve graph.
    * Output: (qid, cid, score, rnk). */
  def greedySearch(graph: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int = 5, beam: Int = 8,
      steps: Int = 4, entries: Int = 4): DataFrame = {
    require(k >= 1 && beam >= k && steps >= 0 && entries >= 1,
      s"need 1 <= k <= beam, steps >= 0, entries >= 1 " +
        s"($k, $beam, $steps, $entries)")
    val v = vecs(emb, idCol, vecCol)
    val n = v.count()
    require(n >= 1,
      s"greedySearch needs a non-empty embedding frame (n=$n): the " +
        "entry-node expression takes ranks mod n")
    val idx = denseIndex(v)
    // query norm ONCE per query row (it rides the q projection, so a
    // broadcast build materializes it once), corpus norm ONCE per
    // corpus row inside the EXISTING vector-attach join's projection —
    // 1 dot per scored pair instead of 3, same expressions and
    // divisor order as cosine() ⇒ bit-identical scores. (The r14
    // attempt that measured q226 +45% added a SEPARATE norm-attach
    // join per round; this adds no join — only columns on joins the
    // loop already pays for.)
    val q = queries.select(col(qidCol).as("qid"),
        col(qvecCol).cast("array<double>").as("qe"))
      .withColumn("qn", l2Norm(col("qe")))
    val vn = v.withColumn("n2", l2Norm(col("e")))
    // entry nodes: ranks md5(qid, e) mod n in the id order
    val entry = q
      .select(col("qid"),
        explode(sequence(lit(0), lit(entries - 1))).as("en"))
      .withColumn("ti", h8("nns", col("qid"), col("en")) % lit(n))
      .select(col("qid"), col("ti")).distinct()
      .join(idx.select(col("i").as("ti"), col("id").as("cid")), "ti")
      .join(q, "qid")
      .select(col("qid"), col("qe"), col("qn"), col("cid"))
    val edges = graph.select(col("u"), col("v"))
    def scoreBeam(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      cand
        .join(vn.select(col("id").as("cid"), col("e"), col("n2")),
          "cid")
        .withColumn("score",
          dotF64(col("qe"), col("e")) / (col("qn") * col("n2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= beam)
        .select(col("qid"), col("qe"), col("qn"), col("cid"),
          col("score"), col("rnk"))
    }
    var b = scoreBeam(entry)
    for (_ <- 1 to steps) {
      // dedupe on bare (qid, cid) and re-attach the query vector —
      // distinct over the embedding array would hash 8·d doubles
      // per candidate for nothing
      val expand = b
        .join(edges, col("cid") === col("u"))
        .select(col("qid"), col("v").as("cid"))
        .union(b.select(col("qid"), col("cid")))
        .distinct()
        .join(q, "qid")
        .select(col("qid"), col("qe"), col("qn"), col("cid"))
      b = scoreBeam(expand).localCheckpoint()
    }
    b.filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** (id, e) per row; a NULL-vector row is filtered out and is never
    * a node (the IVF operators' NULL-vector policy). */
  private def vecs(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    emb.filter(col(vecCol).isNotNull).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("e"))

  /** Score a candidate edge stream (duplicates allowed) and keep the
    * per-u top-k. Two r14-measured devices:
    *  - norms once per VECTOR (n sqrt-dots), not per pair — cosine()
    *    re-derived both norms inside every candidate (3 dots instead
    *    of 1 on the O(n·k²) stream); same expressions, same divisor
    *    product order, bit-identical scores;
    *  - the DEDUP-HEAP top-k ([[TopK.perQueryDedup]] — map-side
    *    partial, duplicates collapse in-heap because a duplicate
    *    pair's score is deterministic): SegProbe r14 measured the old
    *    distinct-then-ranked-window chain at ~50 s CPU per refinement
    *    round at sf0.1 vs ~1 s of dot products. */
  private def score(edges: DataFrame, v: DataFrame,
      k: Int): DataFrame = {
    val idType = v.schema("id").dataType
    val vn = v.select(col("id"), col("e"), l2Norm(col("e")).as("n2"))
    val scored = edges
      .join(vn.select(col("id").as("u"), col("e").as("ue"),
        col("n2").as("un")), "u")
      .join(vn.select(col("id").as("v"), col("e").as("ve"),
        col("n2").as("vn")), "v")
      .select(col("u").as("qid"), col("v").as("id"),
        (dotF64(col("ue"), col("ve")) / (col("un") * col("vn")))
          .as("score"))
    TopK.perQueryDedup(scored, k)
      .select(col("qid").cast(idType).as("u"),
        col("cid").cast(idType).as("v"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }
}
