package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative link-analysis over an edge table — the Pregel-class
  * workload expressed as a fixed number of join+aggregate rounds on
  * DataFrames (the reference has no graph engine; these are the
  * standard algorithms a corpus pipeline runs over citation / link /
  * endorsement graphs to weight sources, e.g. harvesting per-domain
  * quality priors for a crawl the way Common-Crawl-derived corpora
  * weight pages by host centrality).
  *
  * Engine-portability (the q101/q102 discipline): every per-node
  * score is truncated to 12 decimals after each update
  * (`floor(x·1e12)/1e12` — doubles agree across engines far beyond
  * 12 digits for these magnitudes), and every neighbor sum runs as
  * an exact DECIMAL(18,15) aggregation, so results are bit-identical
  * across engines AND across partitionings (IEEE addition never
  * reorders).
  *
  * Scale: per iteration exactly ONE data-sized shuffle (the
  * neighbor-sum aggregation keyed by target node; the score join
  * rides the same hash partitioning). Lineage is cut per iteration
  * with `localCheckpoint` — without it the plan doubles per round and
  * the optimizer re-derives the whole chain each action. On a real
  * cluster swap localCheckpoint for reliable `checkpoint` (HDFS) so
  * executor loss doesn't force a full recompute; the shapes are
  * identical. Node/edge tables stay fully distributed — no
  * driver-side state beyond the one-row count/max frames, which are
  * broadcast.
  */
object Graph {

  /** Truncate to 12 decimals — deterministic across engines. */
  private def t12(x: Column): Column =
    floor(x * lit(1e12)).cast("double") / lit(1e12)

  /** Storage level for the per-round checkpoint tables.
    * `-Dgraft.fixpoint.storage=ser` switches the round blocks to
    * MEMORY_AND_DISK_SER — the r14 A/B knob for the sf10
    * GC-pause-share diagnosis (serialized rows are one byte-array
    * object per partition block instead of millions of UnsafeRow
    * objects for G1 to trace; the trade is serde CPU per round).
    * Default stays MEMORY_AND_DISK (Spark's own localCheckpoint
    * default) — flip only where measurement says so (PLANS.md r14
    * keep/revert row). */
  private def roundLevel: org.apache.spark.storage.StorageLevel =
    if (sys.props.get("graft.fixpoint.storage").contains("ser"))
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Roll an iterative frame: checkpoint the new round eagerly, then
    * free the PREVIOUS round's blocks — after the eager checkpoint
    * the old frame is provably dead (nothing downstream references
    * it; its plan is a bare LogicalRDD leaf, so the free never
    * touches the loop-invariant tables). Without this every round
    * leaks one node-sized RDD into the storage pool for the life of
    * the session — on long peels (k-core, components) dozens of dead
    * copies, enough to evict the blocks the query still needs. */
  private def roll(prev: DataFrame, next: DataFrame): DataFrame = {
    val ck = next.localCheckpoint(true, roundLevel)
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .freeCheckpointBlocks(prev)
    ck
  }

  /** [[roll]] + bit-exact FIXPOINT probe for the score loops: a
    * round whose (node, pr) table equals the previous round's
    * EXACTLY proves every remaining round a no-op — the update is a
    * deterministic function of the previous table, so by induction
    * the full unroll returns the identical result and the loop may
    * stop (the q190 k-core early-exit device, generalized to the
    * PageRank family). The probe is one node-table join + head(1)
    * per round — bounded by |V|, never |E|. Measured r13: the
    * endorsement graph reaches the t12 truncation grid's fixpoint
    * at round 3 of 5 (a c→s bipartite graph converges in two
    * sweeps), so q162/q175/q224 skip 2 of 5 edge-join rounds;
    * graphs that never latch just pay the |V| probe. Exactness is
    * unconditional — only an EXACT equality (never a tolerance)
    * short-circuits. */
  private def rollFix(prev: DataFrame, next: DataFrame)
      : (DataFrame, Boolean) = {
    val ck = next.localCheckpoint(true, roundLevel)
    val same = ck.select(col("node"), col("pr").as("__npr"))
      .join(prev, Seq("node"))
      .filter(col("__npr") =!= col("pr"))
      .head(1).isEmpty
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .freeCheckpointBlocks(prev)
    (ck, same)
  }

  /** Exact sum of a double column via DECIMAL(18,15) terms (scores
    * are ≤ 1-ish here, so 3 integer digits is ample headroom). */
  private def xsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 15))).cast("double")

  /** Simplified PageRank (Page et al. 1999) without dangling-mass
    * redistribution: pr'(v) = t/N + d·Σ_{u→v} pr(u)/outdeg(u),
    * each update truncated to 12 decimals. Dangling nodes (no
    * out-edges) leak their mass — fine for RANKING (the reference
    * use), and it keeps the per-iteration plan at one shuffle; the
    * full-conservation variant adds one more one-row aggregate per
    * round if ever needed.
    *
    * `damping` and `teleport` are both explicit and must sum to 1:
    * deriving one from the other as `1 - x` perturbs the default in
    * the 17th binary digit (1 − 0.85 ≠ the double literal 0.15),
    * which can straddle the 12-decimal truncation boundary — the
    * oracle replays the exact literals, so the engine takes the
    * exact literals too.
    *
    * `edges`: (src: string, dst: string); duplicates collapse.
    * Output: (node, pr) over src ∪ dst, ordered by node.
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    require(math.abs(damping + teleport - 1.0) < 1e-9,
      s"damping ($damping) + teleport ($teleport) must sum to 1")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // The out-degree is loop-INVARIANT: fold it into the edge table
    // once and leave that table hash-partitioned by src (checkpoint
    // preserves partitioning). Locally the rank side broadcasts (AQE)
    // so rounds are job-overhead-bound either way; at cluster scale —
    // where ranks exceed the broadcast threshold and the join falls
    // back to shuffle — this removes the per-round EDGE re-exchange,
    // the term that grows with data.
    val ed = e.join(e.groupBy(col("src").as("onode"))
          .agg(count(lit(1)).as("deg")),
        col("src") === col("onode"))
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src"))
      .localCheckpoint()
    // One bounded driver action (a single long — the same class as
    // the documented k-means/BPE bounded collects) hoists the node
    // count out of the loop: teleport/nn is the IDENTICAL IEEE
    // division the oracle performs per row, done once. The r8 bench
    // found the earlier per-round `crossJoin(broadcast(cnt))` was
    // recomputing the count job every round — ~2x the whole
    // iteration's cost on the sf0.1 graph (9.6 s vs the 3.4 s
    // personalized sibling that pre-materializes its teleport).
    val nn = nodes.count()
    val tpn = teleport / nn
    var pr = nodes.select(col("node"), t12(lit(1.0 / nn)).as("pr"))
      .localCheckpoint()
    // Nodes with NO in-edges have the constant rank t/N every round —
    // computed once; each round's update then touches only the
    // aggregation's target rows (the HITS deferral device), so the
    // per-round plan is edge-join + aggregate + union, nothing
    // nodes-wide. Value-identical to the all-nodes left join: a
    // target node's m is always defined (every source holds a rank),
    // so the COALESCE arm of the oracle only ever fires for no-in
    // nodes, which is exactly the constant frame.
    val noIn = nodes
      .join(ed.select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"), t12(lit(tpn)).as("pr"))
      .localCheckpoint()
    var round = 0
    var fixed = false
    while (round < iters && !fixed) {
      round += 1
      val agg = ed
        .join(pr, col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(xsum(col("c")).as("m"))
      val (next, same) = rollFix(pr, noIn.unionByName(
        agg.select(col("dst").as("node"),
          t12(lit(tpn) + lit(damping) * col("m")).as("pr"))))
      pr = next
      fixed = same
    }
    pr.orderBy(col("node"))
  }

  /** WEIGHTED PageRank: pr'(v) = t/N + d·Σ_{u→v} pr(u)·w(u,v)/W(u)
    * with W(u) = Σ out-weights — the centrality a weighted source
    * graph (co-occurrence counts, link multiplicities, endorsement
    * strengths) calls for, where [[pageRank]]'s uniform 1/outdeg
    * split would flatten the signal. Weights must be positive LONGS
    * (counts): w/W is then one exact IEEE division per edge, and
    * every round replays engine-exactly under the same t12/DECIMAL
    * discipline as the uniform sibling. Duplicate (src, dst) edges
    * collapse by summing their weights.
    *
    * Same loop shape and cost as [[pageRank]]: weight-annotated
    * edges pre-partitioned once, ONE data-sized shuffle per round,
    * no-in-edge nodes as a once-computed constant frame, one
    * bounded driver count. `edges`: (src, dst, `weightCol` long). */
  def pageRankWeighted(edges: DataFrame, weightCol: String,
      iters: Int = 5, damping: Double = 0.85,
      teleport: Double = 0.15): DataFrame = {
    require(math.abs(damping + teleport - 1.0) < 1e-9,
      s"damping ($damping) + teleport ($teleport) must sum to 1")
    // nonpositive weights are dropped up front (a zero-weight-only
    // source would otherwise divide 0/0): the documented contract
    // is count-like positive weights
    val e = edges
      .filter(col(weightCol).cast("long") > 0)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val ed = e.join(e.groupBy(col("src").as("onode"))
          .agg(sum(col("w")).as("wsum")),
        col("src") === col("onode"))
      .select(col("src"), col("dst"), col("w"), col("wsum"))
      .repartition(col("src"))
      .localCheckpoint()
    val nn = nodes.count()
    val tpn = teleport / nn
    var pr = nodes.select(col("node"), t12(lit(1.0 / nn)).as("pr"))
      .localCheckpoint()
    val noIn = nodes
      .join(ed.select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"), t12(lit(tpn)).as("pr"))
      .localCheckpoint()
    var round = 0
    var fixed = false
    while (round < iters && !fixed) {
      round += 1
      val agg = ed
        .join(pr, col("src") === col("node"))
        .select(col("dst"),
          (col("pr") * col("w") / col("wsum")).as("c"))
        .groupBy(col("dst")).agg(xsum(col("c")).as("m"))
      val (next, same) = rollFix(pr, noIn.unionByName(
        agg.select(col("dst").as("node"),
          t12(lit(tpn) + lit(damping) * col("m")).as("pr"))))
      pr = next
      fixed = same
    }
    pr.orderBy(col("node"))
  }

  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands on the SEED set instead of uniformly —
    * pr'(v) = t·tele(v) + d·Σ_{u→v} pr(u)/outdeg(u) with
    * tele(v) = 1/|S| on seeds, 0 elsewhere. Ranks nodes by proximity
    * to the seeds (the related-content / similar-source score next
    * to the global prior [[pageRank]] computes). Same per-round
    * shapes, precision discipline, checkpoint policy, and explicit
    * damping/teleport pair (see [[pageRank]] on why neither is
    * derived from the other).
    *
    * `seeds`: one string column `node`. Output: (node, pr). */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
      iters: Int = 5, damping: Double = 0.85,
      teleport: Double = 0.15): DataFrame = {
    require(math.abs(damping + teleport - 1.0) < 1e-9,
      s"damping ($damping) + teleport ($teleport) must sum to 1")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val ed = e.join(e.groupBy(col("src").as("onode"))
          .agg(count(lit(1)).as("deg")),
        col("src") === col("onode"))
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src"))
      .localCheckpoint()
    val sd = seeds.select(col("node").as("snode")).distinct()
    val scnt = sd.agg(count(lit(1)).as("ns"))
    // teleport vector: 1/|S| on seeds (12-trunc), 0 elsewhere
    val tele = nodes
      .join(sd, nodes("node") === sd("snode"), "left")
      .crossJoin(broadcast(scnt))
      .select(col("node"),
        when(col("snode").isNotNull, t12(lit(1.0) / col("ns")))
          .otherwise(lit(0.0)).as("tele"))
      .localCheckpoint()
    var pr = tele.select(col("node"), col("tele").as("pr"))
      .localCheckpoint()
    var round = 0
    var fixed = false
    while (round < iters && !fixed) {
      round += 1
      val agg = ed
        .join(pr, col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(xsum(col("c")).as("m"))
      val (next, same) = rollFix(pr, tele
        .join(agg, tele("node") === agg("dst"), "left")
        .select(col("node"),
          t12(lit(teleport) * col("tele") +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("pr")))
      pr = next
      fixed = same
    }
    pr.orderBy(col("node"))
  }

  /** Weakly connected components by min-label propagation PLUS
    * pointer doubling, run to a FIXPOINT: label(v) starts as v's own
    * id; each round takes the min over the closed neighborhood
    * (edges symmetrized) and then shortcuts one indirection —
    * lab(v) ← min(lab(v), lab(lab(v))) — so label information
    * travels 2^t hops after t rounds instead of t. The loop runs
    * until NO label changes — exact components, not a fixed round
    * count, and rounds are bounded by O(log diameter) rather than
    * diameter (the adversarial long-chain graph converges in ~log
    * rounds; without the doubling step a length-L path needs L
    * rounds). Both steps are monotone (labels only decrease, and a
    * label is always a node id inside the component), so the
    * fixpoint is the same and convergence stays order- and
    * partitioning-independent.
    *
    * Per round: one join + aggregate over the (pre-partitioned,
    * checkpointed) symmetric edge table, then one nodes-sized
    * label self-join for the shortcut; the convergence check rides
    * the checkpointed result.
    *
    * Output: (node, component) where component = lexicographic min
    * node id of the component. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val sym = e0.union(e0.select(col("dst"), col("src")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct()
      .localCheckpoint()
    var lab = nodes.select(col("node"), col("node").as("lab"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbrMin = sym
        .join(lab.withColumnRenamed("node", "ln"),
          col("src") === col("ln"))
        .groupBy(col("dst").as("n2"))
        .agg(min(col("lab")).as("nmin"))
      val prop = lab
        .join(nbrMin, col("node") === col("n2"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nmin"), col("lab")))
            .as("lab"), col("lab").as("old"))
        .localCheckpoint()
      // pointer doubling: chase one indirection through the freshly
      // propagated table (lab values are node ids, so the self-join
      // always resolves; left + coalesce guards the degenerate case)
      val next = prop
        .join(prop.select(col("node").as("pn"), col("lab").as("plab")),
          col("lab") === col("pn"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("plab"), col("lab")))
            .as("lab"), col("old"))
        .localCheckpoint()
      // next is materialized: prop and the previous round's labels
      // are dead — free both (the roll discipline; an unbounded peel
      // would otherwise hold 2 node-sized RDDs per round forever)
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .freeCheckpointBlocks(prop)
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .freeCheckpointBlocks(lab)
      changed = next.filter(col("lab") =!= col("old")).count()
      lab = next.select(col("node"), col("lab"))
    }
    lab.select(col("node"), col("lab").as("component"))
      .orderBy(col("node"))
  }

  /** HITS (Kleinberg 1999): auth'(v) = Σ_{u→v} hub(u), then
    * hub'(u) = Σ_{u→v} auth'(v), each vector normalized by its MAX
    * (exact under any partitioning, unlike an L2 norm) and truncated
    * to 12 decimals per round. On a bipartite endorsement graph the
    * auth side ranks endorsees, the hub side ranks endorsers.
    *
    * Job budget (the r7 tuning): each round materializes ONLY the
    * two RAW neighbor-sum frames (`localCheckpoint` on the
    * nodes-sized aggregate — exactly one data-sized job per
    * direction). The max normalizer is then a trivial scan of the
    * checkpointed frame riding the next job's broadcast build, and
    * the normalized score stays LAZY with depth-1 lineage: auth is
    * consumed by the same round's hub pass, hub by the next round's
    * auth pass. The earlier shape (checkpointing the NORMALIZED
    * vectors plus two standalone one-row max jobs) ran every
    * neighbor-sum aggregation twice — 4 data-sized jobs per round
    * for the same numbers.
    *
    * Output: (node, auth, hub) over src ∪ dst, ordered by node.
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"hits needs at least one iteration ($iters)")
    // Two loop-invariant edge layouts: the auth pass joins hubs by
    // src, the hub pass joins auths by dst — keep one copy
    // pre-partitioned per key so each round only exchanges the
    // nodes-sized score frames (the pageRank device, both ways).
    // distinct + repartition fuse into ONE setup job per layout.
    val eSrc = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).localCheckpoint()
    if (eSrc.isEmpty)
      return eSrc.select(col("src").as("node"), lit(0.0).as("auth"),
        lit(0.0).as("hub"))
    val eDst = eSrc.repartition(col("dst")).localCheckpoint()
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // The loop keeps only the NONZERO score tables: a node absent
    // from a neighbor-sum frame has score exactly 0 and contributes
    // nothing to the next sum, so the all-nodes zero-fill left join
    // is deferred to the final output — each round's jobs are just
    // edge-join + aggregate, nothing nodes-wide.
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var authNz: DataFrame = null
    var hubNz: DataFrame = null
    var prevAraw: DataFrame = null
    var prevHraw: DataFrame = null
    var round = 0
    var fixed = false
    while (round < iters && !fixed) {
      round += 1
      val araw = eSrc
        .join(hub, col("src") === col("node"))
        .groupBy(col("dst")).agg(xsum(col("hub")).as("a"))
        .localCheckpoint()
      val amax = araw.agg(max(col("a")).as("am"))
      authNz = araw.crossJoin(broadcast(amax))
        .select(col("dst").as("node"),
          t12(col("a") / col("am")).as("auth"))
      val hraw = eDst
        .join(authNz.withColumnRenamed("node", "anode"),
          col("dst") === col("anode"))
        .groupBy(col("src")).agg(xsum(col("auth")).as("h"))
        .localCheckpoint()
      val hmax = hraw.agg(max(col("h")).as("hm"))
      hubNz = hraw.crossJoin(broadcast(hmax))
        .select(col("src").as("node"),
          t12(col("h") / col("hm")).as("hub"))
      // fixpoint probe (the rollFix device): an UNCHANGED hub table
      // makes every later round recompute identical araw/authNz/
      // hraw, so stopping returns the exact full-unroll result. The
      // nonzero frames can change node SETS between rounds, so the
      // probe is a full-outer join — any unmatched node or changed
      // value keeps iterating. Skipped for round 1 (the all-ones
      // seed frame is nodes-wide by construction) AND for the final
      // round (r15): when round == iters the while condition exits
      // regardless, so the probe's verdict is dead — running it was
      // one wasted nodes-sized join job per query.
      if (round > 1 && round < iters) {
        fixed = hubNz.select(col("node"), col("hub").as("__nh"))
          .join(hub, Seq("node"), "full")
          .filter(col("__nh").isNull || col("hub").isNull ||
            col("__nh") =!= col("hub"))
          .head(1).isEmpty
      }
      // this round's sums (and the probe above) consumed the
      // previous round's frames — free both AFTER the probe (the
      // roll discipline); the FINAL round's frames are never freed
      // here, and the output references only those
      if (prevAraw != null) {
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .freeCheckpointBlocks(prevAraw)
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .freeCheckpointBlocks(prevHraw)
      }
      hub = hubNz
      prevAraw = araw
      prevHraw = hraw
    }
    nodes
      .join(authNz.select(col("node").as("an"), col("auth")),
        col("node") === col("an"), "left")
      .join(hubNz.select(col("node").as("hn"), col("hub")),
        col("node") === col("hn"), "left")
      .select(col("node"), coalesce(col("auth"), lit(0.0)).as("auth"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
      .orderBy(col("node"))
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected edge list — the cohesion statistic a corpus pipeline
    * computes over link / co-occurrence graphs (a host whose neighbors
    * also link each other is a community, not a link farm).
    *
    * `edges`: (src, dst) in any orientation; self-loops are dropped
    * and both orders of the same pair collapse to one undirected edge.
    * Output: (node, deg, tri, lcc) with lcc = 2·tri / (deg·(deg−1))
    * truncated to 12 decimals (0.0 when deg < 2).
    *
    * Scale: the naive neighbor-pair enumeration is Σ_v C(deg(v), 2) —
    * quadratic in the hot node's degree, fatal on skewed graphs. This
    * uses the degree-ordered orientation (Chiba–Nishizeki 1985) in
    * its EDGE-ITERATOR form: each undirected edge is directed from
    * its (deg, id)-smaller endpoint to the larger (out-degrees are
    * then O(√m)), out-neighborhoods are packed into per-node arrays,
    * and each oriented edge (a,b) counts the triangle closures as
    * |N⁺(a) ∩ N⁺(b)| — every triangle lands exactly once, at its
    * lowest-two-corners edge, with the intersection elements being
    * the third corners. vs the wedge-materialization formulation
    * (Suri–Vassilvitskii WWW'11) this never shuffles the Σ out-deg²
    * wedge set as ROWS: the only super-linear volume is the packed
    * neighbor arrays riding the one edge-keyed shuffle (same int
    * count, ~10× fewer bytes+rows), and the per-node credits fold
    * into one explode + map-side-combined sum. No windows, no driver
    * state; the orientation changes the join sizes, never the counts.
    */
  def triangleStats(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    // canon feeds deg + orientation, deg feeds orientation + output,
    // oriented feeds the adjacency build AND both closure joins —
    // without materialization Spark re-derives each subtree per
    // reference (the canon scan ran 3× in the unpinned plan). canon
    // and oriented are scratch tables consumed only INSIDE the
    // operator (the returned plan references deg + closed alone), so
    // they persist() — freeable below, and Dataset.unpersist cannot
    // reclaim localCheckpoint blocks — while deg/closed, which the
    // returned plan keeps referencing, are checkpointed. The eager
    // downstream checkpoints force both caches.
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val oriented = canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b")))
          .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      // pin the cached partitioning to the tail: the adjacency
      // build AND the N⁺(a) join below then need ZERO exchanges
      .repartition(col("a"))
      .persist()
    // packed out-neighborhoods (≤ O(√m) elements each, by the
    // orientation); zero exchange — oriented is already clustered on a
    val adj = oriented.groupBy(col("a"))
      .agg(collect_list(col("b")).as("nbrs"))
    // ride N⁺(a) onto each edge (zero exchange — same clustering),
    // then ONE edge-keyed shuffle by b carries the packed arrays to
    // N⁺(b); shuffle-hash so the fat side is never sorted. The per-
    // edge intersection |N⁺(a) ∩ N⁺(b)| closes every wedge at once —
    // the Σ out-deg² wedge set never exists as shuffled rows.
    // The intersection is the expensive scalar here, and downstream
    // it fans out into THREE references (both corner weights + the
    // third-corner list) — without a physical barrier the optimizer
    // re-inlines and recomputes it per reference (the q239 fan-out-
    // recompute class; an expression-level `let` via a 1-element
    // transform was tried and is worse: higher-order functions are
    // CodegenFallback and knock the whole stage out of codegen). So
    // the closure list is computed ONCE and checkpointed; the
    // surviving table is |E_closed| rows carrying 3·|triangles| ints.
    val closed = oriented
      .join(adj.hint("shuffle_hash"), "a")
      .select(col("a"), col("b"), col("nbrs").as("na"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb"))
        .hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("cs"))
      // filter AFTER the barrier: predicate pushdown would otherwise
      // substitute the alias and evaluate the intersect a second time
      .localCheckpoint()
      .filter(size(col("cs")) > 0)
    // localCheckpoint is eager, so `closed` is materialized here and
    // the returned plan references only `deg` and `closed` — free the
    // scratch caches now instead of letting them crowd the storage
    // pool for the rest of the session (leaked blocks were evicting
    // LIVE blocks on later queries in a long-lived JVM); the plans
    // keep full lineage, so a late recompute stays correct, just cold
    canon.unpersist()
    oriented.unpersist()
    // per-node credits in one pass: the edge's two low corners each
    // get the closure count, every third corner gets 1; explode feeds
    // a map-side-combined sum (≤ |V| distinct keys per partition)
    val perNode = closed
      .select(col("a"), col("b"), col("cs"),
        size(col("cs")).cast("long").as("tc"))
      .select(explode(concat(
        array(struct(col("a").as("node"), col("tc").as("w")),
          struct(col("b").as("node"), col("tc").as("w"))),
        transform(col("cs"),
          c => struct(c.as("node"), lit(1L).as("w"))))).as("e"))
      .groupBy(col("e.node").as("node"))
      .agg(sum(col("e.w")).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          t12(lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1))))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Degree assortativity coefficient (Newman 2002) of an undirected
    * edge list — the one-number "do hubs link hubs?" health stat for
    * a link graph (social graphs are assortative, web/citation
    * graphs disassortative; a crawl whose sign flips between
    * snapshots changed its shape). Self-loops and duplicate
    * orientations collapse exactly as in [[triangleStats]].
    *
    * Output (one row): m (undirected edge count), s1 = Σ(j+k),
    * s2 = Σ(j²+k²), sp = Σ(j·k) over edges with endpoint degrees
    * (j, k), and r = (sp/m − (s1/2m)²) / (s2/2m − (s1/2m)²)
    * truncated to 12 decimals (null for a degree-regular graph,
    * where the variance denominator is 0).
    *
    * Exactness + scale: the three sums are INTEGER sums of degree
    * products — exact, order-independent, map-side partial — and the
    * coefficient is a handful of IEEE divisions on the driver-free
    * final row; two keyed joins (degrees onto edges) and one global
    * aggregate, nothing else. */
  def assortativity(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    // canon feeds the degree table AND the edge-degree join — one
    // materialization instead of two derivations
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDegs = canon
      .join(deg.select(col("node").as("u"), col("deg").as("j")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("k")), "v")
    val sums = withDegs.agg(
      count(lit(1)).as("m"),
      sum(col("j") + col("k")).as("s1"),
      sum(col("j") * col("j") + col("k") * col("k")).as("s2"),
      sum(col("j") * col("k")).as("sp"))
    val mean = col("s1").cast("double") / (lit(2) * col("m"))
    val num = col("sp").cast("double") / col("m") - mean * mean
    val den = col("s2").cast("double") / (lit(2) * col("m")) -
      mean * mean
    sums.select(col("m"), col("s1"), col("s2"), col("sp"),
      when(den =!= 0.0, t12(num / den)).as("assortativity"))
  }

  /** Top-k node pairs by shared-neighbor Jaccard similarity —
    * co-citation / bibliographic-coupling similarity (Small 1973):
    * two nodes are similar when their neighborhoods overlap, the
    * item-item signal behind "related sources" and collaborative
    * filtering. sim(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|, pairs with
    * fewer than `minShared` common neighbors dropped (the hapax
    * floor), top `k` by (sim DESC, a, b), sim truncated to 12
    * decimals.
    *
    * Scale: pairs are enumerated AT the shared neighbor (one wedge
    * row per middle node per neighbor pair), so the wedge volume is
    * Σ_n C(deg(n), 2) — quadratic in hot-node degree. `maxDegree`
    * drops super-connector MIDDLES from the enumeration (the stop-
    * neighbor device, same role as maxDf in shingle Jaccard): a node
    * adjacent to everything carries no similarity signal but costs
    * C(huge, 2) wedges. Denominator degrees stay FULL degrees, so
    * the cap only prunes candidate generation through hot middles.
    *
    * The enumeration is packed-adjacency (r12 verdict item 2, the
    * q179 edge-iterator template): each kept middle's neighborhood
    * rides ONE groupBy shuffle as a sorted array, and
    * posexplode + explode(slice(tail)) streams each (a < b) pair
    * exactly once into the pair count. The old mids×mids self-join
    * shuffled the adjacency twice, sort-merged it, generated BOTH
    * orders of every pair and filtered half away — 2× the generated
    * rows plus join machinery for the identical result. Built-in
    * generators beat a custom one here: ExplodeBase stays inside
    * whole-stage codegen while a CodegenFallback Generator knocks
    * the generate→count stage out of codegen entirely (measured
    * ~25% slower at the 10× SF). Endpoints with deg < minShared are
    * pruned from the packed arrays BEFORE enumeration — every pair
    * they'd generate dies at the HAVING floor anyway
    * (shared(a,b) ≤ min(deg a, deg b)), so their wedges are free to
    * drop; middle counts are untouched, surviving pair counts
    * identical. */
  def sharedNeighborSimilarity(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      minShared: Int = 2, maxDegree: Int = 1000,
      k: Int = 50): DataFrame = {
    // canon/deg fan out to 2+ consumers — materialize once
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val adj = canon.select(col("u").as("n"), col("v").as("x"))
      .union(canon.select(col("v").as("n"), col("u").as("x")))
    // left-semi degree gates BEFORE the pack: hot middles out (the
    // maxDegree prune), low-degree ENDPOINTS out (deg < minShared
    // cannot survive the HAVING floor); sort_array makes every
    // emitted pair (a < b)-canonical with no per-pair comparison
    // downstream
    val packed = adj
      .join(deg.filter(col("deg") <= maxDegree)
        .select(col("node").as("n")), Seq("n"), "left_semi")
      .join(deg.filter(col("deg") >= minShared)
        .select(col("node").as("x")), Seq("x"), "left_semi")
      .groupBy(col("n"))
      .agg(sort_array(collect_list(col("x"))).as("nbrs"))
    val pairs = packed
      .select(col("nbrs"), posexplode(col("nbrs")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("nbrs"), col("i") + 2,
        size(col("nbrs")))).as("b"))
    // The wedge-pair aggregate is the dominant stage at scale (sf10
    // StageProbe: 2 stages ≈ 300 s wall, ~100 GB in-memory spill
    // accounting at 112M wedges). When every node id fits in an
    // unsigned 32-bit slot, pack the (a, b) key into ONE long
    // (a<<32 | b) so the partial and final aggregates hash/compare/
    // spill an 8-byte primitive key instead of a 16-byte two-column
    // row — same counts, unpacked after the HAVING floor. Ids
    // outside [0, 2^32) (or a non-integral node type) keep the
    // two-column aggregate — identical semantics, never wrong, just
    // the unpacked width.
    val nodeType = pairs.schema("a").dataType
    val integralNodes = TopK.isIntegral(nodeType)
    // dtype gate FIRST: the range probe casts to long, which throws
    // under ANSI on non-numeric ids (string node names take the
    // two-column aggregate without ever running the probe)
    val packable = integralNodes && {
      val idRange = deg.agg(
        min(col("node").cast("long")).as("mn"),
        max(col("node").cast("long")).as("mx")).head()
      !idRange.isNullAt(0) && idRange.getLong(0) >= 0 &&
        idRange.getLong(1) < (1L << 32)
    }
    val shared =
      if (packable)
        pairs
          .select((shiftleft(col("a").cast("long"), 32)
            .bitwiseOR(col("b").cast("long"))).as("ab"))
          .groupBy(col("ab"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(shiftrightunsigned(col("ab"), 32)
            .cast(nodeType).as("a"),
            col("ab").bitwiseAND(lit((1L << 32) - 1))
              .cast(nodeType).as("b"),
            col("shared"))
      else
        pairs
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
    shared
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("shared"), col("da"), col("db"),
        t12(col("shared").cast("double") /
          (col("da") + col("db") - col("shared"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Weighted co-occurrence graph from a (group, item) incidence
    * list — the graph-CONSTRUCTION step in front of every co-order /
    * co-citation / term-co-occurrence analysis in this suite (q179,
    * q186, q188, q190, q195 build this inline; the operator is the
    * reusable, skew-guarded form). Two items are linked once per
    * group they share; `weight` counts shared groups.
    *
    * Scale: the pair enumeration is Σ_g C(|g|, 2) — quadratic in
    * group size, fatal on mega-groups (a 10⁶-item group alone yields
    * 5·10¹¹ pairs). `maxGroupSize` drops oversized groups BEFORE the
    * self-join (the maxDegree/maxDf device: a group containing
    * everything carries no co-occurrence signal but all the cost);
    * `minWeight` floors hapax edges after aggregation. Both keyed
    * shuffles; no windows, no driver state.
    *
    * Output: (src, dst, weight) with src < dst, ordered. */
  def coOccurrence(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 10000, minWeight: Long = 1): DataFrame = {
    // incidence feeds the size guard AND both join sides
    val gi = df.select(col(groupCol).as("g"), col(itemCol).as("it"))
      .distinct()
      .localCheckpoint()
    val kept = gi.join(
      gi.groupBy(col("g")).agg(count(lit(1)).as("gsz"))
        .filter(col("gsz") <= maxGroupSize).select(col("g")),
      Seq("g"), "left_semi")
    kept.select(col("g"), col("it").as("src"))
      .join(kept.select(col("g"), col("it").as("dst")), "g")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
      .orderBy(col("src"), col("dst"))
  }

  /** Multi-source BFS hop distance from a seed set — the
    * "distance from trusted sources" prior a corpus pipeline computes
    * over a link graph (TrustRank's discrete cousin: pages ≤ h hops
    * from a vetted seed whitelist inherit trust; everything beyond
    * `maxHops` stays unscored). Undirected by default (reachability
    * semantics); pass `directed = true` to follow edge direction.
    *
    * Classic frontier BFS as iterative DataFrame rounds: the frontier
    * expands one hop per round, an anti-join against the visited set
    * keeps only first reaches (first reach = min distance, so no
    * min-aggregation is needed), and the loop exits as soon as a
    * frontier comes back empty. Per round: one edge join keyed by the
    * pre-partitioned edge table + one anti-join against the visited
    * union; each frontier is checkpointed, so the visited set is a
    * union of flat checkpointed frames, never a deep lineage.
    *
    * Output: (node, dist) for every node within `maxHops` of a seed
    * (seeds themselves at dist 0, present even if absent from the
    * graph), ordered by node. */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int, directed: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0 ($maxHops)")
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (directed) e0
      else e0.union(e0.select(col("dst"), col("src"))))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    var frontier = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    var visited = frontier
    var h = 0
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      val next = e
        .join(frontier.select(col("node")), col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .localCheckpoint()
      visited = visited.union(next)
      frontier = next
    }
    visited.orderBy(col("node"))
  }

  /** Deterministic random-walk corpus generation (DeepWalk, Perozzi
    * et al. 2014; the unbiased node2vec special case) — one
    * fixed-length walk per start node over the symmetrized graph,
    * the sequence-materialization step in front of skip-gram
    * training over graphs ([[SkipGram]] consumes the output exactly
    * like token streams).
    *
    * Each step picks neighbor index
    * md5("walk:" start ":" step) mod degree(current) — a pure
    * function of (start, step), so walks are engine- and
    * partitioning-exact and the oracle replays every transition
    * through the same indexed adjacency (neighbors numbered in
    * lexicographic order).
    *
    * Scale: the indexed adjacency builds once (one window over
    * per-node neighbor lists, bounded by degree) and is
    * pre-partitioned by node; each step is ONE equi-join of the
    * walk frontier against it — `steps` keyed joins total, walk
    * state one row per walk. Dead ends (impossible on a symmetrized
    * graph) would simply end walks early via the inner join.
    *
    * Output: (start, step, node) for step 0..steps, ordered. */
  def randomWalks(edges: DataFrame, steps: Int = 4): DataFrame = {
    require(steps >= 1, s"randomWalks needs steps >= 1 ($steps)")
    val e0 = edges.select(col("src"), col("dst"))
    val sym = e0.union(e0.select(col("dst"), col("src")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = sym
      .withColumn("idx", row_number().over(wAdj))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))))
      .select(col("src").as("cur"), col("dst").as("nxt"),
        col("idx"), col("deg"))
      .repartition(col("cur"))
      .localCheckpoint()
    var walk = adj.select(col("cur").as("start")).distinct()
      .select(col("start"), col("start").as("node"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    out += walk.select(col("start"), lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val pick = conv(substring(md5(concat(lit("walk:"), col("start"),
        lit(":"), lit(t))), 1, 15), 16, 10).cast("long")
      walk = walk
        .join(adj, col("node") === col("cur"))
        .filter(col("idx") === pick % col("deg") + 1)
        .select(col("start"), col("nxt").as("node"))
        .localCheckpoint()
      out += walk.select(col("start"), lit(t.toLong).as("step"),
        col("node"))
    }
    out.reduce(_ unionByName _).orderBy(col("start"), col("step"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for a FIXED
    * round count — the near-linear community detector for corpus link
    * graphs (communities = topical clusters / mirror farms; the
    * coarse partition a pipeline uses to diversity-sample or to cap
    * per-community quotas). Every node starts labeled with its own
    * id; each round relabels EVERY node with the most frequent label
    * among its neighbors, ties broken by MIN label — with synchronous
    * updates and that total tie order the result is deterministic
    * under any partitioning (the oracle replays the same rounds).
    * Fixed `iters` rather than convergence because synchronous LPA
    * can 2-cycle on bipartite structures; callers wanting the
    * fixpoint variant compose with a change-count loop the way
    * [[connectedComponents]] does.
    *
    * Per round: one join of labels onto the pre-partitioned symmetric
    * edge table, one (node, label) count aggregate, one per-node
    * arg-max window over the label counts (rows = distinct neighbor
    * labels per node — bounded by degree, skew-safe), checkpoint.
    *
    * Output: (node, community), community = the surviving label. */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"labelPropagation needs iters >= 1 ($iters)")
    val e0 = edges.select(col("src"), col("dst"))
    val sym = e0.union(e0.select(col("dst"), col("src")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    var lab = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("cnt").desc, col("lab"))
    for (_ <- 1 to iters) {
      lab = roll(lab, sym
        .join(lab.withColumnRenamed("node", "ln"),
          col("src") === col("ln"))
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab")))
    }
    lab.select(col("node"), col("lab").as("community"))
      .orderBy(col("node"))
  }

  /** k-core decomposition (Seidman 1983) for a FIXED k: the maximal
    * subgraph in which every node keeps degree ≥ k, found by
    * iterative peeling — drop all nodes below k, recompute degrees,
    * repeat to the fixpoint. The density filter corpus link-graphs
    * use to separate well-embedded sources from peripheral ones (a
    * page kept by the 50-core has 50 neighbors that all also survive
    * the cut — spam farms and orphans peel away together).
    *
    * Returns (node, deg): the k-core's nodes with their WITHIN-CORE
    * degrees; empty when the whole graph peels. The k-core is unique,
    * so the result is order- and partitioning-independent.
    *
    * Scale: each round is one degree aggregation + two semi joins +
    * one count action, all keyed shuffles on the shrinking edge set;
    * localCheckpoint cuts the per-round lineage like the other
    * iterative loops. Rounds are data-dependent (a path peeled at
    * k=2 takes O(diameter) rounds); `maxIter` bounds the loop and
    * real corpus graphs cascade in a handful of rounds (the sf0.01
    * co-order graph reaches its 80-core fixpoint in 5). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be positive ($k)")
    var cur = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var curCount = cur.count()
    var converged = curCount == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val deg = cur.select(col("u").as("node"))
        .union(cur.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k)
      val next = cur
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .freeCheckpointBlocks(cur)
      val nextCount = next.count()
      converged = nextCount == curCount
      cur = next
      curCount = nextCount
      i += 1
    }
    cur.select(col("u").as("node"))
      .union(cur.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Redirect-chain resolution (the crawl-frontier normalization
    * step: HTTP 301/302 maps and URL-alias tables are a successor
    * function, and dedup/caps must key on the FINAL target). Given a
    * redirect map (srcCol → dstCol; multiple rows per src are
    * collapsed to min(dst) for determinism), computes for every node
    * (sources AND targets) the node reached after following up to
    * `maxDepth` hops, with `resolved = false` for nodes still
    * sitting on an outgoing edge after that many hops — redirect
    * CYCLES and over-long chains, which a crawler drops rather than
    * loops on.
    *
    * Pointer doubling with EXACT depth: successor S(x) = next(x),
    * or x when terminal (terminals are fixed points), raised to
    * S^maxDepth by binary exponentiation — square-and-multiply over
    * the (node, ptr) frame, ≤ 2·⌊log₂ d⌋ equi-joins instead of d
    * sequential joins, and exactly `maxDepth` compositions for ANY
    * maxDepth (the r10 form rounded up to the next power of two, so
    * maxDepth=10 silently followed 16 hops and over-long chains in
    * (10, 16] were reported resolved). Each join is keyed on the
    * node id, data-sized, checkpointed. The same device as
    * [[connectedComponents]], specialized to functional graphs.
    *
    * Output: node, final, resolved. */
  def resolveRedirects(edges: DataFrame, srcCol: String,
      dstCol: String, maxDepth: Int = 16): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val e = edges.groupBy(col(srcCol).as("node"))
      .agg(min(col(dstCol)).as("nxt"))
    val nodes = e.select(col("node"))
      .union(e.select(col("nxt").as("node"))).distinct()
    def compose(f: DataFrame, g: DataFrame): DataFrame =
      f.alias("a").join(g.alias("b"), col("a.ptr") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ptr").as("ptr"))
        .localCheckpoint()
    var pow = nodes.join(e, Seq("node"), "left")
      .select(col("node"), coalesce(col("nxt"), col("node")).as("ptr"))
      .localCheckpoint()                     // S^1
    var acc: DataFrame = null                // S^(consumed bits)
    var d = maxDepth
    // frees follow the roll discipline; compose() checkpoints, so
    // every frame here is a bare LogicalRDD and a freed predecessor
    // is never referenced by a survivor. `acc eq pow` aliasing (the
    // first set bit) guards the pow-advance free.
    while (d > 0) {
      if ((d & 1) == 1)
        acc = if (acc == null) pow else {
          val a2 = compose(acc, pow)
          org.apache.spark.sql.graftbridge.CheckpointBridge
            .freeCheckpointBlocks(acc)
          a2
        }
      d >>= 1
      if (d > 0) {
        val p2 = compose(pow, pow)
        if (!(acc eq pow))
          org.apache.spark.sql.graftbridge.CheckpointBridge
            .freeCheckpointBlocks(pow)
        pow = p2
      }
    }
    if (!(acc eq pow))
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .freeCheckpointBlocks(pow)
    acc.join(e.select(col("node").as("__src"), lit(true).as("__out")),
        col("ptr") === col("__src"), "left")
      .select(col("node"), col("ptr").as("final"),
        coalesce(!col("__out"), lit(true)).as("resolved"))
  }

  /** HyperBall (Boldi & Vigna 2013): per-node neighborhood-size
    * estimates at growing radius via HLL register merges along
    * edges — the web-scale device for closeness/harmonic centrality,
    * where exact per-node BFS from every source is quadratic. Round
    * t merges each node's register table with its OUT-neighbors'
    * round-(t−1) tables (register-wise MAX — HLL union is exact for
    * unions), so |ball_t(v)| estimates nodes reachable from v within
    * t hops; harmonic_est = Σ_t (|B_t|−|B_{t−1}|)/t. For the classic
    * "harmonic centrality of incoming distances", pass the
    * TRANSPOSED edge frame (on symmetric graphs they coincide).
    *
    * Exactness: registers are integers (order-free MAX merges);
    * every estimate is the [[Sketches.hllEstimate]] arithmetic
    * (integer harmonic sum, 9-decimal truncation), and each
    * harmonic term is re-truncated — so R rounds replay
    * bit-identically in SQL.
    *
    * Scale shape: state is ≤ m·n register rows total (in practice
    * min(ball, m) per node); each round is one edge-keyed join +
    * one hash aggregate — the same per-round cost envelope as
    * [[pageRank]], with no per-node BFS and no driver state. */
  private def t9(x: Column): Column =
    floor(x * lit(1e9)).cast("double") / lit(1e9)

  /** The HyperBall round loop: per-round per-node ball-size
    * estimate frames `(node, est_t)` for t = 0..rounds (shared by
    * [[hyperBall]] and [[hyperBallProfile]]). */
  private def hyperBallRounds(edges: DataFrame,
      rounds: Int): Vector[DataFrame] = {
    require(rounds >= 1, "need at least one round")
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    var regs = Sketches.hllRegisters(nodes, "node", "node")
      .localCheckpoint()
    var ests = Vector(Sketches.hllEstimate(regs, "node")
      .select(col("node"), col("hll_est").as("est_0")))
    for (t <- 1 to rounds) {
      val pulled = e
        .join(regs.withColumnRenamed("grp", "dst"), Seq("dst"))
        .select(col("src").as("grp"), col("b"), col("r"))
      regs = pulled.unionByName(
          regs.select(col("grp"), col("b"), col("r")))
        .groupBy(col("grp"), col("b")).agg(max(col("r")).as("r"))
        .localCheckpoint()
      ests = ests :+ Sketches.hllEstimate(regs, "node")
        .select(col("node"), col("hll_est").as(s"est_$t"))
    }
    ests
  }

  def hyperBall(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val ests = hyperBallRounds(edges, rounds)
    val joined = ests.reduce((a, b) => a.join(b, Seq("node")))
    val harmonic = (1 to rounds)
      .map(t => t9((col(s"est_$t") - col(s"est_${t - 1}")) /
        lit(t.toDouble)))
      .reduce(_ + _)
    joined.select(col("node"),
      col(s"est_$rounds").as("ball_est"),
      harmonic.as("harmonic_est"))
  }

  /** The graph-level HyperBall deliverables: the NEIGHBORHOOD
    * FUNCTION N(t) = Σ_v |B_t(v)| (estimated reachable pairs within
    * t hops) per radius, its fraction of the final value, and the
    * interpolated EFFECTIVE DIAMETER — the smallest (fractional) t
    * at which N(t) reaches 90% of N(rounds), the headline statistic
    * HyperBall exists to compute at web scale.
    *
    * Totals are order-free (t9 estimates summed over DECIMAL(38,9)),
    * and the interpolation runs over the (rounds+1)-row profile —
    * the partition-less window there is bounded by the round count,
    * never by data (the Pca d-row frame contract). */
  def hyperBallProfile(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val ests = hyperBallRounds(edges, rounds)
    val prof = ests.zipWithIndex.map { case (df, t) =>
      df.agg(t9(sum(col(s"est_$t")
          .cast(DecimalType(38, 9))).cast("double")).as("total"))
        .select(lit(t.toLong).as("t"), col("total"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
    val fin = prof.agg(max(when(col("t") === rounds, col("total")))
      .as("final_total"))
    val rows = prof.crossJoin(broadcast(fin))
      .withColumn("frac", t9(col("total") / col("final_total")))
      .withColumn("prev", lag(col("total"), 1).over(w))
    val target = col("final_total") * lit(0.9)
    val eff = rows.where(col("total") >= target)
      .orderBy(col("t")).limit(1)
      .select(when(col("prev").isNull || col("total") <= col("prev"),
          col("t").cast("double"))
        .otherwise(col("t") - 1 + (target - col("prev")) /
          (col("total") - col("prev"))).as("eff_diameter"))
    rows.select(col("t"), col("total").as("total_reach"), col("frac"))
      .crossJoin(broadcast(eff))
  }
}
