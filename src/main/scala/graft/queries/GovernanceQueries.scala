package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Privacy
import Tables._

/** Data-governance / release-planning extension family (builder
  * brief): the audits and planning tables a corpus RELEASE needs
  * beyond curation itself — disclosure-risk audits (k-anonymity /
  * l-diversity, generalization ladders) over user-linked tables, and
  * the shard/calibration planning ops added alongside. Every query
  * is value-checked against a DuckDB oracle replaying the identical
  * decision arithmetic.
  */
object GovernanceQueries {

  /** q271: per-QI-group disclosure audit over `customer`
    * ([[Privacy.kAnonymityAudit]]): QIs = (nation, 1000-width
    * account-balance bin), sensitive attribute = market segment;
    * k=5, l=3. ONE hash aggregate over the QI tuple — the audit a
    * release datasheet embeds verbatim. */
  def q271KAnonymityAudit(s: SparkSession, d: String): DataFrame =
    Privacy.kAnonymityAudit(customer(s, d),
        quasiCols = Seq(col("c_nationkey"),
          Privacy.bin(col("c_acctbal"), 1000.0)),
        quasiNames = Seq("c_nationkey", "bal_bucket"),
        sensitiveCol = col("c_mktsegment"), k = 5, l = 3)
      .orderBy(col("c_nationkey"), col("bal_bucket"))

  private val q271Oracle: String =
    """SELECT c_nationkey,
      |  CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
      |  COUNT(*) AS group_size,
      |  COUNT(DISTINCT c_mktsegment) AS l_diversity,
      |  COUNT(*) >= 5 AS k_anonymous,
      |  COUNT(DISTINCT c_mktsegment) >= 3 AS l_diverse
      |FROM customer
      |GROUP BY 1, 2
      |ORDER BY c_nationkey, bal_bucket""".stripMargin

  /** q272: generalization-ladder release plan
    * ([[Privacy.generalizationLadder]]) — every customer anchored at
    * the finest balance-bin width (100 → 500 → 2000 → 10000) at
    * which its (segment × bin) group reaches k=8, rows failing all
    * rungs suppressed; reported as the per-rung release summary (at
    * sf0.01 three distinct rungs anchor rows, so the gate exercises
    * the rung choice, not one degenerate level). Four QI aggregates
    * + four grouped-key joins — the group tables are tiny relative
    * to the corpus. */
  def q272GeneralizationLadder(s: SparkSession, d: String): DataFrame =
    Privacy.generalizationLadder(customer(s, d),
        catQuasi = Seq(col("c_mktsegment")),
        catNames = Seq("c_mktsegment"), numCol = col("c_acctbal"),
        widths = Seq(100.0, 500.0, 2000.0, 10000.0), k = 8)
      .groupBy(col("anchor_level"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("anchor_group_size")).as("min_group_size"),
        max(col("anchor_group_size")).as("max_group_size"))
      .orderBy(col("anchor_level"))

  private val q272Oracle: String =
    """WITH b AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS b0,
      |    CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) AS b1,
      |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS b2,
      |    CAST(FLOOR(c_acctbal / 10000.0) AS BIGINT) AS b3
      |  FROM customer),
      |g0 AS (SELECT seg, b0, COUNT(*) AS gs0 FROM b GROUP BY 1, 2),
      |g1 AS (SELECT seg, b1, COUNT(*) AS gs1 FROM b GROUP BY 1, 2),
      |g2 AS (SELECT seg, b2, COUNT(*) AS gs2 FROM b GROUP BY 1, 2),
      |g3 AS (SELECT seg, b3, COUNT(*) AS gs3 FROM b GROUP BY 1, 2),
      |j AS (
      |  SELECT b.c_custkey, gs0, gs1, gs2, gs3
      |  FROM b
      |  JOIN g0 USING (seg, b0)
      |  JOIN g1 USING (seg, b1)
      |  JOIN g2 USING (seg, b2)
      |  JOIN g3 USING (seg, b3)),
      |a AS (
      |  SELECT
      |    CASE WHEN gs0 >= 8 THEN 'w100'
      |         WHEN gs1 >= 8 THEN 'w500'
      |         WHEN gs2 >= 8 THEN 'w2000'
      |         WHEN gs3 >= 8 THEN 'w10000'
      |         ELSE 'suppressed' END AS anchor_level,
      |    CASE WHEN gs0 >= 8 THEN gs0
      |         WHEN gs1 >= 8 THEN gs1
      |         WHEN gs2 >= 8 THEN gs2
      |         WHEN gs3 >= 8 THEN gs3 END AS ags
      |  FROM j)
      |SELECT anchor_level, COUNT(*) AS n_rows,
      |  MIN(ags) AS min_group_size, MAX(ags) AS max_group_size
      |FROM a GROUP BY anchor_level ORDER BY anchor_level""".stripMargin

  /** q273: rendezvous (HRW) shard-assignment plan
    * ([[graft.operators.Split.rendezvousShard]]) — documents hashed
    * onto an 8-shard map with one double-weight shard, summarized
    * per shard. Pure per-row argmax over md5 draws (no shuffle of
    * the corpus; the summary aggregate is the only exchange); the
    * oracle replays the identical integer argmax with the identical
    * (hash, shard, vnode) tie-break. */
  private val ShardMap: Seq[(String, Int)] =
    ("s0" -> 2) +: (1 to 7).map(i => s"s$i" -> 1)

  def q273RendezvousShards(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.rendezvousAssign(
        documents(s, d).select(col("doc_id")), "doc_id", ShardMap)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  private val q273Oracle: String = {
    val vnodes = ShardMap.flatMap { case (n, w) =>
      (0 until w).map(v => s"('$n', $v)") }.mkString(", ")
    s"""WITH v(shard, vn) AS (VALUES $vnodes),
      |h AS (
      |  SELECT d.doc_id, v.shard, v.vn,
      |    ('0x' || substr(md5('hrw:' || v.shard || ':' ||
      |      CAST(v.vn AS VARCHAR) || ':' ||
      |      CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
      |  FROM documents d CROSS JOIN v),
      |r AS (
      |  SELECT doc_id, shard, row_number() OVER (
      |    PARTITION BY doc_id
      |    ORDER BY hv DESC, shard DESC, vn DESC) AS rn
      |  FROM h)
      |SELECT shard, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
      |  MAX(doc_id) AS max_doc
      |FROM r WHERE rn = 1 GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** q304: shard-balance χ² audit — did the q273 rendezvous
    * assignment actually land the WEIGHTED share on each shard?
    * Expected fraction = w_s / Σw; the χ² term is kept integer by
    * cross-multiplication ((Σw·o_s − n·w_s)² over Σw·n·w_s, one
    * double division per shard), then summed decimal-exact. The
    * audit every sharded materialization publishes next to its
    * manifest. */
  def q304ShardBalance(s: SparkSession, d: String): DataFrame = {
    val totalW = ShardMap.map(_._2).sum
    val wExpr = ShardMap.foldLeft(lit(null).cast("long")) {
      case (e, (name, wt)) =>
        when(col("shard") === name, lit(wt.toLong)).otherwise(e)
    }
    val counts = graft.operators.Split.rendezvousAssign(
        documents(s, d).select(col("doc_id")), "doc_id", ShardMap)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", wExpr)
    val tot = counts.agg(sum(col("n_docs")).as("n"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("term",
        ((lit(totalW.toLong) * col("n_docs") - col("n") * col("w")) *
          (lit(totalW.toLong) * col("n_docs") - col("n") * col("w")))
          .cast("double") /
          (lit(totalW.toLong) * col("n") * col("w")).cast("double"))
    val chi2 = terms.agg(dsum(col("term"), 9).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("shard"), col("n_docs"), col("w"), col("term"),
        col("chi2"))
      .orderBy(col("shard"))
  }

  private val q304Oracle: String = {
    val totalW = ShardMap.map(_._2).sum
    val wCase = ShardMap.map { case (n, wt) =>
      s"WHEN shard = '$n' THEN $wt" }.mkString(" ")
    val vnodes = ShardMap.flatMap { case (n, w) =>
      (0 until w).map(v => s"('$n', $v)") }.mkString(", ")
    s"""WITH v(shard, vn) AS (VALUES $vnodes),
      |h AS (
      |  SELECT d.doc_id, v.shard, v.vn,
      |    ('0x' || substr(md5('hrw:' || v.shard || ':' ||
      |      CAST(v.vn AS VARCHAR) || ':' ||
      |      CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
      |  FROM documents d CROSS JOIN v),
      |r AS (
      |  SELECT doc_id, shard, row_number() OVER (
      |    PARTITION BY doc_id
      |    ORDER BY hv DESC, shard DESC, vn DESC) AS rn
      |  FROM h),
      |cnts AS (
      |  SELECT shard, COUNT(*) AS n_docs,
      |    CAST(CASE $wCase END AS BIGINT) AS w
      |  FROM r WHERE rn = 1 GROUP BY shard),
      |ttl AS (SELECT SUM(n_docs) AS n FROM cnts),
      |tms AS (
      |  SELECT shard, n_docs, w,
      |    CAST(($totalW * n_docs - n * w) * ($totalW * n_docs - n * w)
      |      AS DOUBLE) /
      |    CAST($totalW * n * w AS DOUBLE) AS term
      |  FROM cnts, ttl),
      |cc AS (SELECT CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE)
      |    AS chi2 FROM tms)
      |SELECT tms.shard, CAST(tms.n_docs AS BIGINT) AS n_docs, tms.w,
      |  tms.term, cc.chi2
      |FROM tms, cc ORDER BY tms.shard""".stripMargin
  }

  /** q274: cross-source quantile-mapping score calibration
    * ([[graft.operators.Corpus.quantileCalibrate]]) — each source's
    * length score mapped onto the global distribution through 20
    * quantile buckets, emitted per document. The within-source side
    * is a source-partitioned window; the global side is the
    * two-pass rank folded to a 20-row broadcast map. */
  def q274QuantileCalibration(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.quantileCalibrate(
        documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "source", "n_chars", buckets = 20)
      .orderBy(col("doc_id"))

  private val q274Oracle: String =
    """WITH s AS (
      |  SELECT doc_id, source, n_chars AS score FROM documents),
      |sp AS (
      |  SELECT doc_id, source, score,
      |    percent_rank() OVER (PARTITION BY source
      |      ORDER BY score, doc_id) AS src_pct
      |  FROM s),
      |sb AS (
      |  SELECT doc_id, source, score, src_pct,
      |    CAST(LEAST(FLOOR(src_pct * 20), 19) AS BIGINT) AS bucket
      |  FROM sp),
      |gp AS (
      |  SELECT score,
      |    percent_rank() OVER (ORDER BY score, doc_id) AS g_pct
      |  FROM s),
      |gb AS (
      |  SELECT CAST(LEAST(FLOOR(g_pct * 20), 19) AS BIGINT)
      |    AS gbucket, MAX(score) AS cal
      |  FROM gp GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 20)) AS gbucket),
      |fill AS (
      |  SELECT spine.gbucket,
      |    last_value(gb.cal IGNORE NULLS) OVER (
      |      ORDER BY spine.gbucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS calibrated
      |  FROM spine LEFT JOIN gb USING (gbucket))
      |SELECT sb.doc_id, sb.source, sb.score, sb.src_pct, sb.bucket,
      |  fill.calibrated
      |FROM sb JOIN fill ON sb.bucket = fill.gbucket
      |ORDER BY doc_id""".stripMargin

  /** q275: LSH banding-parameter planner
    * ([[graft.operators.Dedup.lshPlanCurve]]) — the S-curve table
    * for three 128-hash layouts, the table read before choosing
    * (bands, rows) for a MinHash pass. Planner-sized; the oracle
    * replays the same explicit multiply chains (never pow()). */
  private val LshCombos: Seq[(Int, Int)] = Seq((8, 16), (16, 8), (32, 4))

  def q275LshPlan(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.lshPlanCurve(s, LshCombos, gridSteps = 20)
      .orderBy(col("bands"), col("s"))

  private val q275Oracle: String = {
    def chain(e: String, n: Int): String =
      Seq.fill(n)(e).mkString("(", " * ", ")")
    val selects = LshCombos.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band, s,
        |  1.0 - ${chain("q", b)} AS collision_p
        |FROM (
        |  SELECT s, 1.0 - ${chain("s", r)} AS q
        |  FROM (SELECT CAST(i AS DOUBLE) / 20.0 AS s
        |        FROM range(1, 20) t(i)))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT bands, rows_per_band, s, collision_p,
      |  collision_p >= 0.5 AS crossed_half
      |FROM ($selects)
      |ORDER BY bands, s""".stripMargin
  }

  /** q301: LSH layout RECOMMENDER — closes the planning loop the
    * q275 curve opens: for every way to spend 16 minhashes
    * ((bands, rows) ∈ 16×1 … 1×16), interpolate the similarity s₅₀
    * where the S-curve crosses P=0.5 and recommend the layout whose
    * s₅₀ sits closest to the target threshold 0.5 (tie → fewer
    * bands). Layouts that never cross within the grid (1×16 crosses
    * at ≈0.958) emit no row by construction. Planner-sized. */
  private val RecCombos: Seq[(Int, Int)] =
    Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  def q301LshRecommend(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bands"), col("rows_per_band"))
      .orderBy(col("s"))
    val crossed = graft.operators.Dedup
      .lshPlanCurve(s, RecCombos, gridSteps = 20)
      .withColumn("p_prev",
        coalesce(lag(col("collision_p"), 1).over(w), lit(0.0)))
      .withColumn("s_prev", coalesce(lag(col("s"), 1).over(w),
        lit(0.0)))
      .where(col("collision_p") >= 0.5 && col("p_prev") < 0.5)
      .withColumn("s50", col("s_prev") +
        (lit(0.5) - col("p_prev")) /
          (col("collision_p") - col("p_prev")) *
          (col("s") - col("s_prev")))
      .withColumn("dist", abs(col("s50") - lit(0.5)))
    val best = crossed.orderBy(col("dist"), col("bands")).limit(1)
      .select(col("bands").as("bb"), col("rows_per_band").as("br"))
    crossed.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"), col("s50"),
        col("dist"),
        (col("bands") === col("bb") &&
          col("rows_per_band") === col("br")).as("recommended"))
      .orderBy(col("bands"))
  }

  private val q301Oracle: String = {
    def chain(e: String, n: Int): String =
      Seq.fill(n)(e).mkString("(", " * ", ")")
    val selects = RecCombos.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band, s,
        |  1.0 - ${chain("q", b)} AS collision_p
        |FROM (
        |  SELECT s, 1.0 - ${chain("s", r)} AS q
        |  FROM (SELECT CAST(i AS DOUBLE) / 20.0 AS s
        |        FROM range(1, 20) t(i)))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH curvr AS ($selects),
      |plr AS (
      |  SELECT bands, rows_per_band, s, collision_p,
      |    COALESCE(lag(collision_p) OVER (
      |      PARTITION BY bands, rows_per_band ORDER BY s), 0.0e0)
      |      AS p_prev,
      |    COALESCE(lag(s) OVER (
      |      PARTITION BY bands, rows_per_band ORDER BY s), 0.0e0)
      |      AS s_prev
      |  FROM curvr),
      |crr AS (
      |  SELECT bands, rows_per_band,
      |    s_prev + (0.5 - p_prev) / (collision_p - p_prev)
      |      * (s - s_prev) AS s50
      |  FROM plr WHERE collision_p >= 0.5 AND p_prev < 0.5),
      |ddr AS (SELECT bands, rows_per_band, s50,
      |    abs(s50 - 0.5) AS dist FROM crr),
      |bst AS (SELECT bands AS bb, rows_per_band AS br FROM ddr
      |  ORDER BY dist, bands LIMIT 1)
      |SELECT ddr.bands, ddr.rows_per_band, ddr.s50, ddr.dist,
      |  ddr.bands = bst.bb AND ddr.rows_per_band = bst.br
      |    AS recommended
      |FROM ddr, bst ORDER BY ddr.bands""".stripMargin
  }

  /** q276: redirect-chain resolution
    * ([[graft.operators.Graph.resolveRedirects]]) — a deterministic
    * alias map over the corpus ids (chains of length up to 7 ending
    * at multiples of 8) plus a planted 2-cycle and a self-loop;
    * every node resolved to its final target by pointer doubling
    * (4 joins = 16 hops), cycles flagged unresolved. The oracle
    * walks the same successor function 16 steps recursively. */
  def q276RedirectResolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chains = documents(s, d)
      .filter(col("doc_id") % 8 =!= 0)
      .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
    val planted = Seq(
      (9000001L, 9000002L), (9000002L, 9000001L), // 2-cycle
      (9000003L, 9000003L)                        // self-loop
    ).toDF("src", "dst")
    graft.operators.Graph.resolveRedirects(
        chains.unionByName(planted), "src", "dst", maxDepth = 16)
      .orderBy(col("node"))
  }

  private val q276Oracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT src, MIN(dst) AS nxt FROM (
      |    SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
      |    WHERE doc_id % 8 <> 0
      |    UNION ALL
      |    SELECT * FROM (VALUES (9000001, 9000002),
      |      (9000002, 9000001), (9000003, 9000003)) v(src, dst))
      |  GROUP BY src),
      |nodes AS (
      |  -- DISTINCT over UNION ALL, not UNION: inside a WITH
      |  -- RECURSIVE list DuckDB gives a bare UNION recursive-union
      |  -- semantics and the dedup is lost
      |  SELECT DISTINCT n FROM (
      |    SELECT src AS n FROM e UNION ALL SELECT nxt FROM e)),
      |walk(n, cur, d) AS (
      |  SELECT n, n, 0 FROM nodes
      |  UNION ALL
      |  SELECT w.n, COALESCE(e.nxt, w.cur), w.d + 1
      |  FROM walk w LEFT JOIN e ON w.cur = e.src
      |  WHERE w.d < 16)
      |SELECT w.n AS node, w.cur AS final,
      |  w.cur NOT IN (SELECT src FROM e) AS resolved
      |FROM walk w WHERE w.d = 16
      |ORDER BY node""".stripMargin

  /** q277: per-document duplicated-5-gram fraction
    * ([[graft.operators.Dedup.duplicatedNgramFraction]]) — the
    * Lee-et-al. memorization-risk audit over the corpus; every
    * count and fraction value-checked. */
  def q277MemorizationAudit(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.duplicatedNgramFraction(
        documents(s, d), "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))

  private val q277Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |i AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM t),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(w[i:i+4], ' ') AS g
      |  FROM i),
      |gc AS (SELECT g, COUNT(*) AS nd FROM sh GROUP BY g),
      |per AS (
      |  SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |    COUNT(CASE WHEN nd >= 2 THEN 1 END) AS n_dup
      |  FROM sh JOIN gc USING (g) GROUP BY sh.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_shingles, 0) AS n_shingles,
      |  COALESCE(n_dup, 0) AS n_dup,
      |  CASE WHEN n_shingles > 0 THEN
      |    CAST(n_dup AS DOUBLE) / CAST(n_shingles AS DOUBLE)
      |  END AS dup_frac
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q278: cross-corpus EXACT-substring contamination audit
    * ([[graft.operators.SuffixArray.crossCorpusShared]]) — over the
    * q169 2% corpus slice, docs at doc_id%100==0 play the eval set
    * and the rest the train corpus; for each eval doc, the longest
    * character span shared verbatim with any train doc and where it
    * sits. The oracle materializes every suffix, dense-ranks, and
    * replays the full LCP array + nearest-train range-min windows. */
  def q278ExactContamination(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.crossCorpusShared(
        documents(s, d).filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("text"),
            when(col("doc_id") % 100 === 0, "eval").otherwise("train")
              .as("lbl")),
        "doc_id", "text", "lbl", "eval")
      .orderBy(col("doc_id"))

  private val q278Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 100 = 0 THEN 'eval' ELSE 'train' END
      |      AS lbl
      |  FROM documents WHERE doc_id % 50 = 0),
      |pos AS (
      |  SELECT doc_id, lbl, length(text) AS len, i AS off,
      |    substr(text, CAST(i + 1 AS INT)) AS suffix
      |  FROM d, LATERAL unnest(range(0, length(text))) t(i)),
      |rk AS (SELECT *, DENSE_RANK() OVER (ORDER BY suffix) - 1 AS r
      |  FROM pos),
      |fl AS (SELECT r,
      |    MAX(CASE WHEN lbl <> 'eval' THEN 1 ELSE 0 END) AS has_train
      |  FROM rk GROUP BY r),
      |rep AS (SELECT r, suffix FROM (
      |    SELECT r, suffix, ROW_NUMBER() OVER (
      |      PARTITION BY r ORDER BY doc_id, off) AS rn FROM rk)
      |  WHERE rn = 1),
      |pr AS (SELECT a.r, a.suffix AS sa, b.suffix AS sb,
      |    least(length(a.suffix), length(b.suffix)) AS ml
      |  FROM rep a JOIN rep b ON b.r = a.r + 1),
      |lc0 AS (SELECT r, ml, [substr(sa, i, 1) = substr(sb, i, 1)
      |    FOR i IN range(1, CAST(ml + 1 AS INT))] AS f
      |  FROM pr),
      |lc AS (SELECT r, CAST(CASE
      |    WHEN COALESCE(list_position(f, false), 0) = 0 THEN ml
      |    ELSE list_position(f, false) - 1 END AS BIGINT) AS lcp
      |  FROM lc0),
      |rt AS (SELECT fl.r, fl.has_train, lc.lcp,
      |    lag(lc.lcp) OVER (ORDER BY fl.r) AS lcp_prev,
      |    SUM(fl.has_train) OVER (ORDER BY fl.r
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS grp_prev,
      |    SUM(fl.has_train) OVER (ORDER BY fl.r DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS grp_next
      |  FROM fl LEFT JOIN lc ON fl.r = lc.r),
      |sh AS (SELECT r, has_train,
      |    COALESCE(CASE WHEN grp_prev > 0 THEN
      |      MIN(lcp) OVER (PARTITION BY grp_prev ORDER BY r
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      END, 0) AS sp,
      |    COALESCE(CASE WHEN grp_next > 0 THEN
      |      MIN(lcp_prev) OVER (PARTITION BY grp_next ORDER BY r DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      END, 0) AS sn
      |  FROM rt),
      |js AS (SELECT rk.doc_id, rk.off,
      |    CASE WHEN sh.has_train = 1 THEN rk.len - rk.off
      |         ELSE GREATEST(sp, sn) END AS shared
      |  FROM rk JOIN sh ON rk.r = sh.r WHERE rk.lbl = 'eval'),
      |mx AS (SELECT doc_id, off, shared,
      |    MAX(shared) OVER (PARTITION BY doc_id) AS longest_shared
      |  FROM js)
      |SELECT doc_id, CAST(longest_shared AS BIGINT)
      |    AS longest_shared,
      |  MIN(off) AS at_off
      |FROM mx WHERE shared = longest_shared
      |GROUP BY doc_id, longest_shared ORDER BY doc_id""".stripMargin

  /** q280: phrase-blocklist audit
    * ([[graft.operators.MultiPattern.matches]]) — one Aho–Corasick
    * pass reporting, per (doc, phrase), the first hit offset and the
    * overlap-inclusive occurrence count; the SUBSTRING counterpart
    * of the token-level q199 badwords gate (multi-word phrases, the
    * naive plan is |patterns| scans per doc). The oracle brute-
    * checks every alignment position. */
  private val BlockPhrases: Seq[String] = Seq(
    "row scan", "table", "fast merge", "spark", "a a",
    "scan slow fast", "never-present-phrase")

  def q280PhraseBlocklist(s: SparkSession, d: String): DataFrame =
    graft.operators.MultiPattern.matches(
        documents(s, d), "doc_id", "text", BlockPhrases)
      .orderBy(col("doc_id"), col("pattern"))

  private val q280Oracle: String = {
    val vals = BlockPhrases.map(p =>
      s"('${p.replace("'", "''")}')").mkString(", ")
    s"""WITH p(pat) AS (VALUES $vals),
      |m AS (
      |  SELECT d.doc_id, p.pat, i AS pos
      |  FROM documents d
      |  CROSS JOIN p,
      |  LATERAL unnest(range(0,
      |    greatest(len(d.text) - len(p.pat) + 1, 0))) t(i)
      |  WHERE substr(d.text, CAST(i + 1 AS INT), len(p.pat)) = p.pat)
      |SELECT doc_id, pat AS pattern, MIN(pos) AS first_pos,
      |  COUNT(*) AS n_occurrences
      |FROM m GROUP BY doc_id, pat
      |ORDER BY doc_id, pattern""".stripMargin
  }

  /** q290: t-closeness audit ([[Privacy.tClosenessAudit]]) — the
    * third leg of the disclosure family (q271 k/l, q272 ladder):
    * per-market-segment ordered EMD between the group's
    * account-balance-decile distribution and the corpus's, as an
    * exact integer rational (cross-multiplied cumulants) plus one
    * final double division; flags groups whose sensitive
    * distribution skews beyond t = 0.05. */
  def q290TCloseness(s: SparkSession, d: String): DataFrame =
    Privacy.tClosenessAudit(customer(s, d),
        quasiCols = Seq(col("c_mktsegment")),
        quasiNames = Seq("c_mktsegment"),
        sensitiveCol = Privacy.bin(col("c_acctbal"), 1000.0),
        t = 0.05)
      .orderBy(col("c_mktsegment"))

  private val q290Oracle: String =
    """WITH cls AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS s
      |  FROM customer),
      |cells AS (SELECT seg, s, COUNT(*) AS ngs FROM cls
      |  GROUP BY 1, 2),
      |grp AS (SELECT seg, SUM(ngs) AS ng FROM cells GROUP BY 1),
      |glb AS (SELECT s, SUM(ngs) AS ns FROM cells GROUP BY 1),
      |tot AS (SELECT SUM(ns) AS n, COUNT(*) AS m FROM glb),
      |grid AS (
      |  SELECT grp.seg, glb.s, grp.ng, glb.ns,
      |    COALESCE(cells.ngs, 0) AS ngs, tot.n, tot.m
      |  FROM grp CROSS JOIN glb CROSS JOIN tot
      |  LEFT JOIN cells ON cells.seg = grp.seg AND cells.s = glb.s),
      |cum AS (
      |  SELECT seg, ng, n, m,
      |    SUM(ngs * n - ns * ng) OVER (PARTITION BY seg ORDER BY s)
      |      AS d
      |  FROM grid)
      |SELECT seg AS c_mktsegment,
      |  CAST(ng AS BIGINT) AS group_size,
      |  CAST(SUM(ABS(d)) AS BIGINT) AS emd_num,
      |  CAST(n * ng * (m - 1) AS BIGINT) AS emd_den,
      |  CAST(CAST(SUM(ABS(d)) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(n * ng * (m - 1) AS BIGINT) AS DOUBLE) AS emd,
      |  CAST(CAST(SUM(ABS(d)) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(n * ng * (m - 1) AS BIGINT) AS DOUBLE) <= 0.05
      |    AS t_close
      |FROM cum GROUP BY seg, ng, n, m
      |ORDER BY seg""".stripMargin

  /** q281: checksum-validated PII audit
    * ([[graft.functions.Checksums]]) — the q108 scrub extended with
    * the validation layer real scrubbers run: 13–19-digit runs are
    * only cards if Luhn-valid, IBAN-shaped tokens only accounts if
    * ISO 7064 mod-97-valid, and ONLY validated candidates are
    * redacted. Each doc gets one constructed-valid and one
    * constructed-invalid card and IBAN planted (the check digit
    * arithmetic is itself engine code under test), so both branches
    * of every validator are value-checked on every row; the md5
    * proves the checksum-gated redaction byte-exactly. */
  def q281ChecksumPii(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Checksums._
    val body = lpad((col("doc_id") * 7919 + 11).cast("string"), 15, "0")
    val bodyB = lpad((col("doc_id") * 104729 + 3).cast("string"), 15, "0")
    val validCard = concat(body, luhnCheckDigit(body).cast("string"))
    val invalidCard = concat(bodyB,
      ((luhnCheckDigit(bodyB) + 5) % 10).cast("string"))
    val bban = lpad((col("doc_id") * 48271 + 7).cast("string"), 16, "0")
    val cc = ibanCheckDigits(lit("DE"), bban)
    val ccBad = (cc - 1) % 97 + 2
    // " pad 00<card>000": a 21-digit run (not a candidate — too
    // long) CONTAINING the valid card; the \b-anchored redaction
    // must leave it byte-identical (r10 advice fixture)
    val planted = concat(col("text"),
      lit(" card "), validCard, lit(" ref "), invalidCard,
      lit(" iban DE"), lpad(cc.cast("string"), 2, "0"), bban,
      lit(" alt DE"), lpad(ccBad.cast("string"), 2, "0"), bban,
      lit(" pad 00"), validCard, lit("000"))
    // fan out the base scan first: the validator work below is
    // expression-dense and a single-file table would otherwise run
    // it on one core (Tables.fanOutForCompute)
    val doc = graft.queries.Tables
      .fanOutForCompute(documents(s, d))
      .select(col("doc_id"), planted.as("t"))
    // Stage the expensive scalars through 1-element Generate nodes:
    // the candidate regexes and the interpreted validator filters
    // each fan out into 2+ downstream references (sizes + redaction),
    // and CollapseProject would otherwise re-inline and recompute
    // them per reference (the q239 class, in expression space). A
    // Generate evaluates its generator ONCE per row and exposes the
    // results as ATTRIBUTES — single evaluation pinned without any
    // data-sized materialization, so the pipeline stays one streaming
    // scan at any corpus size.
    val staged = doc
      .select(col("doc_id"), col("t"),
        explode(array(struct(
          cardCandidates(col("t")).as("cands"),
          ibanCandidates(col("t")).as("icands")))).as("g1"))
      .select(col("doc_id"), col("t"),
        col("g1.cands").as("cands"), col("g1.icands").as("icands"))
      .select(col("doc_id"), col("t"), col("cands"), col("icands"),
        explode(array(struct(
          filter(col("cands"), c => luhnValid(c)).as("okc"),
          filter(col("icands"), c => ibanValid(c)).as("oki"))))
          .as("g2"))
    staged.select(col("doc_id"),
        size(col("cands")).cast("long").as("n_card_candidates"),
        size(col("g2.okc")).cast("long").as("n_cards_valid"),
        size(col("icands")).cast("long").as("n_iban_candidates"),
        size(col("g2.oki")).cast("long").as("n_ibans_valid"),
        md5(redactValid(
          redactValid(col("t"), col("g2.okc"), "<CARD>"),
          col("g2.oki"), "<IBAN>")).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  /** The Luhn mod-10 sum as a DuckDB expression over digit string
    * `$s` of length `$s` chars, doubling at distance-from-right
    * `$par` mod 2 (1 = validation over the full number, 0 = check-
    * digit construction over the body). */
  private def luhnSumSql(s: String, par: Int): String =
    s"""list_sum(list_transform(generate_series(1, len($s)), i ->
      |    CASE WHEN (len($s) - i) % 2 = $par THEN
      |      CASE WHEN 2*(ascii(substr($s,i,1))-48) > 9
      |        THEN 2*(ascii(substr($s,i,1))-48) - 9
      |        ELSE 2*(ascii(substr($s,i,1))-48) END
      |      ELSE ascii(substr($s,i,1))-48 END))""".stripMargin

  /** ISO 7064 mod-97 left fold over the digit string `$s` (first
    * list element seeds the fold — identical to an init-0 fold since
    * a single digit is its own residue). */
  private def mod97Sql(s: String): String =
    s"""list_reduce(list_transform(generate_series(1, len($s)),
      |      i -> CAST(ascii(substr($s,i,1))-48 AS BIGINT)),
      |    (acc, x) -> (acc*10 + x) % 97)""".stripMargin

  private val q281Oracle: String = {
    val expand = """array_to_string(list_transform(
      |      generate_series(1, len(re)), i ->
      |      CASE WHEN ascii(substr(re,i,1)) >= 65
      |        THEN CAST(ascii(substr(re,i,1))-55 AS VARCHAR)
      |        ELSE substr(re,i,1) END), '')""".stripMargin
    s"""WITH pl AS (
      |  SELECT doc_id, text,
      |    lpad(CAST(doc_id*7919 + 11 AS VARCHAR), 15, '0') AS body,
      |    lpad(CAST(doc_id*104729 + 3 AS VARCHAR), 15, '0') AS bodyb,
      |    lpad(CAST(doc_id*48271 + 7 AS VARCHAR), 16, '0') AS bban
      |  FROM documents),
      |chk AS (
      |  SELECT doc_id, text, body, bodyb, bban,
      |    (10 - ${luhnSumSql("body", 0)} % 10) % 10 AS cd,
      |    (10 - ${luhnSumSql("bodyb", 0)} % 10) % 10 AS cdb,
      |    98 - (SELECT ${mod97Sql("s")} FROM
      |      (SELECT bban || '131400' AS s)) AS cc
      |  FROM pl),
      |pt AS (
      |  SELECT doc_id,
      |    text || ' card ' || body || CAST(cd AS VARCHAR)
      |      || ' ref ' || bodyb || CAST((cdb + 5) % 10 AS VARCHAR)
      |      || ' iban DE' || lpad(CAST(cc AS VARCHAR), 2, '0') || bban
      |      || ' alt DE' || lpad(CAST((cc - 1) % 97 + 2 AS VARCHAR),
      |           2, '0') || bban
      |      || ' pad 00' || body || CAST(cd AS VARCHAR) || '000' AS t
      |  FROM chk),
      |cand AS (SELECT doc_id,
      |    unnest(regexp_extract_all(t, '\\b[0-9]{13,19}\\b')) AS c
      |  FROM pt),
      |cv AS (SELECT doc_id, c,
      |    ${luhnSumSql("c", 1)} % 10 = 0 AS ok FROM cand),
      |ca AS (SELECT doc_id, COUNT(*) AS n_card_candidates,
      |    COUNT(CASE WHEN ok THEN 1 END) AS n_cards_valid,
      |    list_sort(list(c) FILTER (WHERE ok)) AS oks
      |  FROM cv GROUP BY doc_id),
      |ic AS (SELECT doc_id, unnest(regexp_extract_all(t,
      |    '\\b[A-Z]{2}[0-9]{2}[0-9A-Z]{11,30}\\b')) AS s
      |  FROM pt),
      |iv AS (SELECT doc_id, s,
      |    (SELECT ${mod97Sql("ex")} FROM (SELECT $expand AS ex)) = 1
      |      AS ok
      |  FROM (SELECT doc_id, s, substr(s,5) || substr(s,1,4) AS re
      |        FROM ic)),
      |ia AS (SELECT doc_id, COUNT(*) AS n_iban_candidates,
      |    COUNT(CASE WHEN ok THEN 1 END) AS n_ibans_valid,
      |    list_sort(list(s) FILTER (WHERE ok)) AS oks
      |  FROM iv GROUP BY doc_id)
      |SELECT pt.doc_id, ca.n_card_candidates, ca.n_cards_valid,
      |  ia.n_iban_candidates, ia.n_ibans_valid,
      |  md5(list_reduce(list_prepend(
      |    list_reduce(list_prepend(pt.t, ca.oks),
      |      (a, x) -> regexp_replace(a, '\\b' || x || '\\b',
      |        '<CARD>', 'g')), ia.oks),
      |    (a, x) -> regexp_replace(a, '\\b' || x || '\\b',
      |      '<IBAN>', 'g'))) AS red_md5
      |FROM pt JOIN ca ON pt.doc_id = ca.doc_id
      |  JOIN ia ON pt.doc_id = ia.doc_id
      |ORDER BY pt.doc_id""".stripMargin
  }

  /** q299: Fellegi–Sunter record linkage with EM
    * ([[graft.operators.RecordLinkage.emFit]], 3 rounds) — customer
    * linked against a deterministically perturbed copy of itself
    * (per row the md5 device picks ONE field to corrupt: name, or
    * balance bin, or balance cents, or none); agreement fields are
    * exact-name / balance-bin / cents.
    *
    * BLOCKING (the r10 verdict's scale fix): the r10 form blocked on
    * (nation, segment) — cardinality fixed at 125, so block size
    * grows linearly with the data and the pair count quadratically.
    * This registers the multi-pass DATA-CARDINALITY discipline
    * (Winkler's multi-pass blocking, the standard FS deployment
    * shape) instead, as the DISTINCT union of three equi-join
    * passes, each with O(1)-expected block sizes:
    *   1. exact name  — holds every true pair whose name survived
    *      (h ≠ 0 corrupts balance or nothing);
    *   2. exact balance — holds the name-corrupted true pairs
    *      (h = 0 leaves balance untouched). DOMAIN BOUND (r12
    *      advice): c_acctbal's TPC-H domain is fixed
    *      ([-999.99, 9999.99] ⇒ ~1.1M cent values), so the block
    *      key cardinality is min(n, 1.1M) and the pass-2 pair count
    *      grows ~n²/1.1M once n ≫ 1.1M — negligible through
    *      sf≈100 (15M customers ⇒ ~2·10⁸ pairs, each a 3-boolean
    *      row), but a caller linking on a similarly band-limited
    *      key at larger n should df-cap the heavy key values (the
    *      fuzzy device's stop-gram discipline: a balance shared by
    *      thousands of records carries no linkage evidence, and EM's
    *      u-estimate needs a SAMPLE of non-matches, not all of
    *      them — pass 3 already supplies that sample at O(n));
    *   3. md5 bucket of the name, modulus = |customer| — a
    *      deterministic pseudo-random O(n)-pair sample that
    *      supplies the representative NON-match population the u /
    *      λ estimates need (passes 1–2 alone would leave u resting
    *      on a handful of accidental balance collisions).
    * Candidate pairs are O(n) total (vs ~n²/125): every pass is a
    * keyed hash join on a key whose cardinality scales with the
    * data; the one `count()` moves a single long to the driver for
    * the bucket modulus. The oracle replays the perturbation, all
    * three blocking passes, the distinct, and all three EM rounds
    * bit-identically. */
  /** The q299 candidate construction (perturbed copy + the three
    * blocking passes + agreement projection) over any
    * (c_custkey, c_name, c_acctbal) frame — ONE definition, so any
    * scaled run measures the registered blocking shape. */
  private[graft] def linkagePairs(cust: DataFrame): DataFrame = {
    val a = cust.select(col("c_custkey").as("ck_a"),
      col("c_name").as("name_a"), col("c_acctbal").as("bal_a"))
    val h = conv(substring(md5(concat(lit("rl:"),
      col("c_custkey").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 4
    val b = cust.select(col("c_custkey").as("ck_b"),
      when(h === 0, concat(col("c_name"), lit("x")))
        .otherwise(col("c_name")).as("name_b"),
      when(h === 1, col("c_acctbal") + 100.0)
        .when(h === 2, col("c_acctbal") + 0.011)
        .otherwise(col("c_acctbal")).as("bal_b"))
    val nB = cust.count()
    def bkt(c: Column): Column =
      conv(substring(md5(concat(lit("blk:"), c)), 1, 8), 16, 10)
        .cast("long") % nB
    val p1 = a.join(b, col("name_a") === col("name_b"))
    val p2 = a.join(b, col("bal_a") === col("bal_b"))
    val p3 = a.withColumn("_bk", bkt(col("name_a")))
      .join(b.withColumn("_bk", bkt(col("name_b"))), "_bk")
      .drop("_bk")
    p1.unionByName(p2).unionByName(p3)
      .dropDuplicates("ck_a", "ck_b")
      .select((col("name_a") === col("name_b")).as("agree_name"),
        (floor(col("bal_a") / 100.0) === floor(col("bal_b") / 100.0))
          .as("agree_bal"),
        // +1e6 keeps the dividend positive (balances can be
        // negative) so % agrees across engines; integer modulo
        (((floor(col("bal_a") * 100.0).cast("long") + 1000000L)
            % 100L) ===
          ((floor(col("bal_b") * 100.0).cast("long") + 1000000L)
            % 100L)).as("agree_cents"))
  }

  def q299RecordLinkage(s: SparkSession, d: String): DataFrame =
    graft.operators.RecordLinkage.emFit(
        linkagePairs(customer(s, d).select(col("c_custkey"),
          col("c_name"), col("c_acctbal"))),
        Seq("agree_name", "agree_bal", "agree_cents"), rounds = 3)
      .orderBy(col("field"))

  private val q299Oracle: String = {
    // E-step weight expression under params row em{r-1}: products
    // left-associated in field order, exactly the engine's fold
    val numM: String =
      s"""(lam * (CASE WHEN a0 THEN m0 ELSE 1.0 - m0 END)
        |      * (CASE WHEN a1 THEN m1 ELSE 1.0 - m1 END)
        |      * (CASE WHEN a2 THEN m2 ELSE 1.0 - m2 END))"""
        .stripMargin
    val denU =
      s"""((1.0 - lam) * (CASE WHEN a0 THEN u0 ELSE 1.0 - u0 END)
        |      * (CASE WHEN a1 THEN u1 ELSE 1.0 - u1 END)
        |      * (CASE WHEN a2 THEN u2 ELSE 1.0 - u2 END))"""
        .stripMargin
    val rounds = (1 to 3).map { r =>
      s"""wr$r AS (
        |  SELECT a0, a1, a2,
        |    floor($numM / ($numM + $denU) * 1e9) / 1e9
        |      AS w
        |  FROM prx, em${r - 1}),
        |wc$r AS (
        |  SELECT a0, a1, a2, w,
        |    floor((1.0 - w) * 1e9) / 1e9 AS wc
        |  FROM wr$r),
        |ag$r AS (
        |  SELECT CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS sw,
        |    CAST(SUM(CAST(wc AS DECIMAL(38,9))) AS DOUBLE) AS swc,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(CASE WHEN a0 THEN w ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swa0,
        |    CAST(SUM(CAST(CASE WHEN a1 THEN w ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swa1,
        |    CAST(SUM(CAST(CASE WHEN a2 THEN w ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swa2,
        |    CAST(SUM(CAST(CASE WHEN a0 THEN wc ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swca0,
        |    CAST(SUM(CAST(CASE WHEN a1 THEN wc ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swca1,
        |    CAST(SUM(CAST(CASE WHEN a2 THEN wc ELSE 0.0e0 END
        |      AS DECIMAL(38,9))) AS DOUBLE) AS swca2
        |  FROM wc$r),
        |em$r AS MATERIALIZED (
        |  SELECT floor(swa0 / sw * 1e9) / 1e9 AS m0,
        |    floor(swca0 / swc * 1e9) / 1e9 AS u0,
        |    floor(swa1 / sw * 1e9) / 1e9 AS m1,
        |    floor(swca1 / swc * 1e9) / 1e9 AS u1,
        |    floor(swa2 / sw * 1e9) / 1e9 AS m2,
        |    floor(swca2 / swc * 1e9) / 1e9 AS u2,
        |    floor(sw / CAST(n AS DOUBLE) * 1e9) / 1e9 AS lam
        |  FROM ag$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH aaa AS (
      |  SELECT c_custkey AS ck_a, c_name AS name_a,
      |    c_acctbal AS bal_a
      |  FROM customer),
      |bbb AS (
      |  SELECT c_custkey AS ck_b,
      |    CASE WHEN h = 0 THEN c_name || 'x' ELSE c_name END
      |      AS name_b,
      |    CASE WHEN h = 1 THEN c_acctbal + 100.0
      |      WHEN h = 2 THEN c_acctbal + 0.011
      |      ELSE c_acctbal END AS bal_b
      |  FROM (SELECT *,
      |      ('0x' || substr(md5('rl:' || c_custkey), 1, 8))
      |        ::UBIGINT::BIGINT % 4 AS h
      |    FROM customer)),
      |nbc AS (SELECT COUNT(*) AS nb FROM customer),
      |cnd AS (
      |  SELECT DISTINCT ck_a, ck_b, name_a, name_b, bal_a, bal_b
      |  FROM (
      |    SELECT a.*, b.* FROM aaa a JOIN bbb b
      |      ON a.name_a = b.name_b
      |    UNION ALL
      |    SELECT a.*, b.* FROM aaa a JOIN bbb b
      |      ON a.bal_a = b.bal_b
      |    UNION ALL
      |    SELECT a.*, b.* FROM aaa a JOIN bbb b ON
      |      ('0x' || substr(md5('blk:' || a.name_a), 1, 8))
      |        ::UBIGINT::BIGINT % (SELECT nb FROM nbc) =
      |      ('0x' || substr(md5('blk:' || b.name_b), 1, 8))
      |        ::UBIGINT::BIGINT % (SELECT nb FROM nbc))),
      |prx AS MATERIALIZED (
      |  SELECT name_a = name_b AS a0,
      |    floor(bal_a / 100.0) = floor(bal_b / 100.0) AS a1,
      |    (CAST(floor(bal_a * 100.0) AS BIGINT) + 1000000) % 100 =
      |      (CAST(floor(bal_b * 100.0) AS BIGINT) + 1000000) % 100
      |      AS a2
      |  FROM cnd),
      |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM prx),
      |em0 AS (SELECT 0.9e0 AS m0, 0.1e0 AS u0, 0.9e0 AS m1,
      |  0.1e0 AS u1, 0.9e0 AS m2, 0.1e0 AS u2, 0.1e0 AS lam),
      |$rounds
      |SELECT * FROM (
      |  SELECT 'agree_name' AS field, m0 AS m, u0 AS u, lam AS lambda,
      |    np.n_pairs FROM em3, np
      |  UNION ALL
      |  SELECT 'agree_bal', m1, u1, lam, np.n_pairs FROM em3, np
      |  UNION ALL
      |  SELECT 'agree_cents', m2, u2, lam, np.n_pairs FROM em3, np)
      |ORDER BY field""".stripMargin
  }

  /** The q307 boundary fixture (planted alongside the organic
    * customer rows; the oracle replays the same VALUES): group 901 =
    * UNIFORM over exactly l=3 segments (entropy sits on the ln(3)
    * boundary — the compare must land identically in both engines),
    * group 902 = near-homogeneous with only 2 distinct values
    * (tail_sum 0, the recursive flag's degenerate branch), group
    * 903 = counts 3,3,3,1 with a THREE-WAY TIE straddling rank l
    * (the tail sum must be tie-order invariant). */
  private val DiversityFixture: Seq[(Int, Double, String)] =
    Seq.fill(4)((901, 100.0, "AUTOMOBILE")) ++
      Seq.fill(4)((901, 100.0, "BUILDING")) ++
      Seq.fill(4)((901, 100.0, "MACHINERY")) ++
      Seq.fill(5)((902, 100.0, "AUTOMOBILE")) ++
      Seq((902, 100.0, "FURNITURE")) ++
      Seq.fill(3)((903, 100.0, "AUTOMOBILE")) ++
      Seq.fill(3)((903, 100.0, "BUILDING")) ++
      Seq.fill(3)((903, 100.0, "MACHINERY")) ++
      Seq((903, 100.0, "HOUSEHOLD"))

  /** q307: strong-diversity disclosure audit
    * ([[Privacy.diversityAudit]]) — the l-diversity ladder's missing
    * rungs over q271's release frame: per (nation × 2000-width
    * balance bin) group, ENTROPY l-diversity (≥ ln 3) and RECURSIVE
    * (c,l)-diversity (r₁ < 2·tail₃) alongside the distinct count.
    * Boundary fixture groups planted (see [[DiversityFixture]]). */
  def q307DiversityAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = customer(s, d).select(col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))
    val planted = DiversityFixture
      .toDF("c_nationkey", "c_acctbal", "c_mktsegment")
    Privacy.diversityAudit(base.unionByName(planted),
        quasiCols = Seq(col("c_nationkey"),
          Privacy.bin(col("c_acctbal"), 2000.0)),
        quasiNames = Seq("c_nationkey", "bal_bucket"),
        sensitiveCol = col("c_mktsegment"), l = 3, c = 2)
      .orderBy(col("c_nationkey"), col("bal_bucket"))
  }

  private val q307Oracle: String = {
    val vals = DiversityFixture
      .map { case (n, b, m) => s"($n, $b, '$m')" }.mkString(", ")
    s"""WITH base AS (
      |  SELECT c_nationkey, c_acctbal, c_mktsegment FROM customer
      |  UNION ALL
      |  SELECT * FROM (VALUES $vals)
      |    t(c_nationkey, c_acctbal, c_mktsegment)),
      |cls AS (
      |  SELECT c_nationkey,
      |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
      |    c_mktsegment AS s
      |  FROM base),
      |cells AS (
      |  SELECT c_nationkey, bal_bucket, s, COUNT(*) AS ns
      |  FROM cls GROUP BY 1, 2, 3),
      |rk AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY c_nationkey, bal_bucket
      |    ORDER BY ns DESC, s) AS rk
      |  FROM cells),
      |g AS (
      |  SELECT c_nationkey, bal_bucket,
      |    SUM(ns) AS group_size, COUNT(*) AS n_distinct,
      |    MAX(ns) AS r1,
      |    SUM(CASE WHEN rk >= 3 THEN ns ELSE 0 END) AS tail_sum,
      |    CAST(SUM(CAST(floor(ln(ns) * 1e9) / 1e9 AS DECIMAL(18,9))
      |      * CAST(ns AS DECIMAL(12,0))) AS DOUBLE) AS nslnns
      |  FROM rk GROUP BY 1, 2)
      |SELECT c_nationkey, bal_bucket,
      |  CAST(group_size AS BIGINT) AS group_size,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  floor(ln(group_size) * 1e9) / 1e9 - nslnns / group_size
      |    AS entropy,
      |  floor(ln(group_size) * 1e9) / 1e9 - nslnns / group_size
      |    >= floor(ln(3) * 1e9) / 1e9 AS entropy_l_diverse,
      |  CAST(r1 AS BIGINT) AS r1,
      |  CAST(tail_sum AS BIGINT) AS tail_sum,
      |  r1 < 2 * tail_sum AS recursive_cl_diverse
      |FROM g ORDER BY c_nationkey, bal_bucket""".stripMargin
  }

  /** q308: differentially-private count release
    * ([[Privacy.laplaceRelease]], Dwork et al. 2006) — per-nation
    * customer counts under the ε=1 Laplace mechanism with the
    * deterministic md5 noise stream (seed "dp1:", chosen so the
    * planted singleton group 901 draws noise ≈ −2.44 and exercises
    * the ≥0 release clamp; organic nations land on both signs of
    * u−½). The oracle replays the inverse-CDF draw bit-exactly. */
  def q308DpRelease(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = customer(s, d).select(col("c_nationkey"))
    val planted = Seq(901).toDF("c_nationkey")
    Privacy.laplaceRelease(base.unionByName(planted),
        groupCols = Seq(col("c_nationkey")),
        groupNames = Seq("c_nationkey"),
        epsilon = 1.0, seed = "dp1:")
      .orderBy(col("c_nationkey"))
  }

  private val q308Oracle: String =
    """WITH base AS (
      |  SELECT c_nationkey FROM customer
      |  UNION ALL SELECT 901),
      |counts AS (
      |  SELECT c_nationkey, COUNT(*) AS true_count
      |  FROM base GROUP BY 1),
      |n AS (
      |  SELECT c_nationkey, true_count,
      |    (CAST(('0x' || substr(md5('dp1:' ||
      |        CAST(c_nationkey AS VARCHAR)), 1, 6))::UBIGINT
      |      AS DOUBLE) + 0.5e0) / 16777216.0e0 AS u
      |  FROM counts),
      |r AS (
      |  SELECT c_nationkey, true_count,
      |    -(1.0e0 / 1.0e0) *
      |      (CASE WHEN u - 0.5e0 >= 0 THEN 1.0e0 ELSE -1.0e0 END) *
      |      (floor(ln(1.0e0 - 2.0e0 * abs(u - 0.5e0)) * 1e9) / 1e9)
      |      AS noise
      |  FROM n)
      |SELECT c_nationkey, true_count, noise,
      |  CAST(true_count AS DOUBLE) + noise AS noisy_count,
      |  GREATEST(CAST(FLOOR(CAST(true_count AS DOUBLE) + noise
      |    + 0.5e0) AS BIGINT), 0) AS released_count,
      |  1.0e0 AS epsilon, 1.0e0 AS sensitivity
      |FROM r ORDER BY c_nationkey""".stripMargin

  /** q309: disparate-impact audit of a curation gate
    * ([[graft.operators.Fairness.disparateImpact]], EEOC four-fifths
    * rule / Feldman et al. 2015) — the quality gate here is a
    * Latin-centric acceptance rule (20–20000 whitespace tokens AND
    * Latin-script ratio ≥ 0.5) audited per language group against
    * the best-off group. On the synthetic corpus (space-delimited
    * Latin-heavy text in every lang) the organic groups all clear
    * the four-fifths bar with distinct rates; the planted lang 'zz'
    * (three empty-text docs) exercises the failing branch: rate 0,
    * impact ratio 0, flag false — and the empty-text division guard
    * (Spark NaN vs DuckDB NULL ratios both collapse through the
    * already-false token-count conjunct, never reaching output).
    * One aggregate + a broadcast 1-row reference — nothing beyond
    * the single corpus pass. */
  def q309DisparateImpact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions
    val base = documents(s, d).select(col("lang"), col("text"))
    val planted = Seq(("zz", ""), ("zz", ""), ("zz", ""))
      .toDF("lang", "text")
    val accepted =
      TextFunctions.wsTokenCount(col("text")).between(20, 20000) &&
        TextFunctions.latinScriptRatio(col("text")) >= 0.5
    graft.operators.Fairness.disparateImpact(
        base.unionByName(planted), col("lang"), "lang", accepted)
      .orderBy(col("lang"))
  }

  private val q309Oracle: String =
    raw"""WITH base AS (
      |  SELECT lang, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES ('zz', ''), ('zz', ''), ('zz', ''))
      |    t(lang, text)),
      |sc AS (
      |  SELECT lang,
      |    len(list_filter(regexp_split_to_array(text,
      |      '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
      |      x -> len(x) > 0)) AS n_tok,
      |    CAST(len(regexp_replace(text, '[^\p{Latin}\p{M}]', '', 'g'))
      |      AS DOUBLE) / len(text) AS lr
      |  FROM base),
      |acc AS (
      |  SELECT lang,
      |    CASE WHEN n_tok BETWEEN 20 AND 20000 AND lr >= 0.5e0
      |      THEN 1 ELSE 0 END AS a
      |  FROM sc),
      |g AS (
      |  SELECT lang, COUNT(*) AS n_total, SUM(a) AS n_accepted,
      |    CAST(SUM(a) AS DOUBLE) / COUNT(*) AS accept_rate
      |  FROM acc GROUP BY 1),
      |ref AS (
      |  SELECT lang AS ref_group, n_total AS rn, n_accepted AS ra
      |  FROM g ORDER BY accept_rate DESC, lang LIMIT 1)
      |SELECT g.lang, CAST(g.n_total AS BIGINT) AS n_total,
      |  CAST(g.n_accepted AS BIGINT) AS n_accepted, g.accept_rate,
      |  ref.ref_group,
      |  g.accept_rate / (CAST(ref.ra AS DOUBLE) / ref.rn)
      |    AS impact_ratio,
      |  g.n_accepted * ref.rn * 10 >= ref.ra * g.n_total * 8
      |    AS four_fifths_ok,
      |  g.accept_rate - CAST(ref.ra AS DOUBLE) / ref.rn
      |    AS parity_diff
      |FROM g CROSS JOIN ref ORDER BY g.lang""".stripMargin

  /** q311: isotonic calibration of a curation signal
    * ([[graft.operators.Calibration.isotonicFit]]) — calibrates the
    * Latin-script ratio against the ground-truth "is English" label
    * over 20 score bins via the closed-form max–min identity, so
    * the raw bin rates (non-monotone under sampling noise) become
    * the least-squares monotone fit. Pure joins/aggregates: one
    * corpus pass for the binning, then constant-size (≤ bins³) bin
    * algebra the oracle replays exactly (integer prefix sums, one
    * double division per pair, min/max). */
  def q311IsotonicCalibration(s: SparkSession, d: String): DataFrame =
    graft.operators.Calibration.isotonicFit(
        documents(s, d).filter(length(col("text")) > 0),
        graft.functions.TextFunctions.latinScriptRatio(col("text")),
        col("lang") === "en", bins = 20)
      .orderBy(col("bin"))

  private val q311Oracle: String =
    raw"""WITH base AS (
      |  SELECT CAST(len(regexp_replace(text, '[^\p{Latin}\p{M}]',
      |      '', 'g')) AS DOUBLE) / len(text) AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE len(text) > 0),
      |b AS (
      |  SELECT CAST(LEAST(FLOOR(s * 20), 19) AS BIGINT) AS bin,
      |    COUNT(*) AS n, SUM(y) AS pos
      |  FROM base GROUP BY 1),
      |c AS (
      |  SELECT bin, n, pos,
      |    SUM(n) OVER (ORDER BY bin) AS ncum,
      |    SUM(pos) OVER (ORDER BY bin) AS pcum
      |  FROM b),
      |pairs AS (
      |  SELECT j.bin AS jb, k.bin AS kb,
      |    CAST(k.pcum - (j.pcum - j.pos) AS DOUBLE) /
      |      (k.ncum - (j.ncum - j.n)) AS m
      |  FROM c j JOIN c k ON j.bin <= k.bin),
      |mn AS (
      |  SELECT i.bin AS ib, p.jb, MIN(p.m) AS mmin
      |  FROM c i JOIN pairs p
      |    ON p.jb <= i.bin AND p.kb >= i.bin
      |  GROUP BY 1, 2),
      |iso AS (SELECT ib AS bin, MAX(mmin) AS iso_rate
      |  FROM mn GROUP BY 1)
      |SELECT b.bin, CAST(b.n AS BIGINT) AS n,
      |  CAST(b.pos AS BIGINT) AS pos,
      |  CAST(b.pos AS DOUBLE) / b.n AS raw_rate, iso.iso_rate
      |FROM b JOIN iso USING (bin) ORDER BY bin""".stripMargin

  /** q312: split-conformal quality thresholds
    * ([[graft.operators.Calibration.conformalThresholds]]) — over
    * English documents, nonconformity = 1 − Latin-script ratio; a
    * 20% md5 calibration split yields the ⌈(1−α)(n+1)⌉-th order
    * statistic per α ∈ {0.10, 0.25} and the held-out 80% reports
    * empirical coverage against the finite-sample ≥ 1−α guarantee.
    * The only data-sized work is the calibration-slice sort behind
    * the order statistic (inherent to exact split conformal); the
    * thresholds broadcast back to the held-out slice. */
  def q312ConformalThresholds(s: SparkSession, d: String): DataFrame = {
    val en = documents(s, d)
      .filter(col("lang") === "en" && length(col("text")) > 0)
      .select(col("doc_id"),
        (lit(1.0) - graft.functions.TextFunctions
          .latinScriptRatio(col("text"))).as("nc"),
        (graft.operators.Split.splitBucket(col("doc_id")) < 2000)
          .as("is_cal"))
    graft.operators.Calibration.conformalThresholds(
        en.filter(col("is_cal")), en.filter(!col("is_cal")),
        col("nc"), col("doc_id"), alphas = Seq(0.1, 0.25))
      .orderBy(col("alpha"))
  }

  private val q312Oracle: String =
    raw"""WITH en AS (
      |  SELECT doc_id,
      |    1.0e0 - CAST(len(regexp_replace(text, '[^\p{Latin}\p{M}]',
      |      '', 'g')) AS DOUBLE) / len(text) AS nc,
      |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
      |      1, 8))::UBIGINT % 10000 < 2000 AS is_cal
      |  FROM documents WHERE lang = 'en' AND len(text) > 0),
      |cal AS (SELECT nc, doc_id FROM en WHERE is_cal),
      |n AS (SELECT COUNT(*) AS n_cal FROM cal),
      |r AS (SELECT nc,
      |    row_number() OVER (ORDER BY nc, doc_id) AS rn
      |  FROM cal),
      |t AS (SELECT nc FROM en WHERE NOT is_cal),
      |per AS (
      |  SELECT a.alpha, n.n_cal,
      |    CAST(CEIL((1.0e0 - a.alpha) * (n.n_cal + 1)) AS BIGINT)
      |      AS k_index
      |  FROM (VALUES (0.1e0), (0.25e0)) a(alpha) CROSS JOIN n),
      |thr AS (
      |  SELECT per.alpha, per.n_cal, per.k_index,
      |    COALESCE(r.nc, CAST('infinity' AS DOUBLE)) AS threshold
      |  FROM per LEFT JOIN r ON r.rn = per.k_index),
      |cov AS (
      |  SELECT thr.alpha, thr.n_cal, thr.k_index, thr.threshold,
      |    COUNT(*) AS n_test,
      |    SUM(CASE WHEN t.nc <= thr.threshold THEN 1 ELSE 0 END)
      |      AS n_covered
      |  FROM thr CROSS JOIN t GROUP BY 1, 2, 3, 4)
      |SELECT alpha, n_cal, k_index, threshold,
      |  CAST(n_test AS BIGINT) AS n_test,
      |  CAST(n_covered AS BIGINT) AS n_covered,
      |  CAST(n_covered AS DOUBLE) / n_test AS coverage,
      |  1.0e0 - alpha AS guarantee
      |FROM cov ORDER BY alpha""".stripMargin

  /** q310: DoReMi-style training-mixture reweighting
    * ([[graft.operators.Reweighting.domainReweight]], Xie et al.
    * 2023) — per-source losses are mean corpus-LM unigram surprisal
    * (one token pass: the occurrence stream collapses immediately to
    * (source, word) counts; the count tables are vocabulary-sized
    * join keys, never the raw stream), then 3 multiplicative-weights
    * rounds at η = 0.5 from the uniform mixture. Rare-vocabulary
    * sources carry excess loss and gain weight; the oracle unrolls
    * the rounds into bit-identical CTEs (trunc9 logs/exps, decimal
    * sums — the q299 EM discipline). */
  def q310DomainReweight(s: SparkSession, d: String): DataFrame = {
    def t9(x: org.apache.spark.sql.Column) =
      floor(x * lit(1e9)).cast("double") / lit(1e9)
    val occ = documents(s, d).select(col("source"),
        explode(graft.functions.TextFunctions.wsTokens(col("text")))
          .as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_sw"))
    val uni = occ.groupBy(col("w").as("uw"))
      .agg(sum(col("n_sw")).as("cw"))
    val tot = uni.agg(sum(col("cw")).as("nn"))
    val sc = occ.join(uni, col("w") === col("uw"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_sw"),
        (-(floor(log(col("cw").cast("double") / col("nn")) *
          lit(1e9)).cast("double") / lit(1e9))).as("s9"))
    val loss = sc.groupBy(col("source"))
      .agg((sum(col("s9").cast(DecimalType18_9) *
          col("n_sw").cast(DecimalType12_0)).cast("double") /
        sum(col("n_sw"))).as("loss"))
    graft.operators.Reweighting.domainReweight(loss, "source",
        "loss", eta = 0.5, rounds = 3)
      .orderBy(col("round"), col("domain"))
  }

  private val DecimalType18_9 =
    org.apache.spark.sql.types.DecimalType(18, 9)
  private val DecimalType12_0 =
    org.apache.spark.sql.types.DecimalType(12, 0)

  private val q310Oracle: String = {
    val ws = raw"[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}" +
      raw"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"
    val roundCtes = (1 to 3).map { t =>
      val prev = if (t == 1) "w0" else s"w${t - 1}"
      s"""bl$t AS (
        |  SELECT CAST(SUM(CAST(floor(w * loss * 1e9) / 1e9
        |    AS DECIMAL(38,9))) AS DOUBLE) AS bl FROM $prev),
        |u$t AS (
        |  SELECT source, loss,
        |    GREATEST(loss - bl, 0.0e0) AS excess,
        |    w * (floor(exp(0.5e0 * GREATEST(loss - bl, 0.0e0))
        |      * 1e9) / 1e9) AS wu
        |  FROM $prev CROSS JOIN bl$t),
        |z$t AS (
        |  SELECT CAST(SUM(CAST(floor(wu * 1e9) / 1e9
        |    AS DECIMAL(38,9))) AS DOUBLE) AS z FROM u$t),
        |w$t AS (
        |  SELECT source, loss, excess, wu / z AS w
        |  FROM u$t CROSS JOIN z$t)""".stripMargin
    }.mkString(",\n")
    val trace = (1 to 3).map { t =>
      s"""SELECT $t AS round, source AS domain, loss, excess,
        |  w AS weight
        |FROM w$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    raw"""WITH toks AS (
      |  SELECT source, unnest(list_filter(
      |    regexp_split_to_array(text, '$ws'),
      |    x -> len(x) > 0)) AS w
      |  FROM documents),
      |occ AS (
      |  SELECT source, w, COUNT(*) AS n_sw FROM toks GROUP BY 1, 2),
      |uni AS (SELECT w, SUM(n_sw) AS cw FROM occ GROUP BY 1),
      |tot AS (SELECT SUM(cw) AS nn FROM uni),
      |sc AS (
      |  SELECT occ.source, occ.n_sw,
      |    -(floor(ln(CAST(uni.cw AS DOUBLE) / nn) * 1e9) / 1e9)
      |      AS s9
      |  FROM occ JOIN uni USING (w) CROSS JOIN tot),
      |loss0 AS (
      |  SELECT source,
      |    CAST(SUM(CAST(s9 AS DECIMAL(18,9))
      |        * CAST(n_sw AS DECIMAL(12,0))) AS DOUBLE)
      |      / SUM(n_sw) AS loss
      |  FROM sc GROUP BY 1),
      |loss AS (
      |  SELECT source, floor(loss * 1e9) / 1e9 AS loss FROM loss0),
      |dd AS (SELECT COUNT(*) AS d FROM loss),
      |w0 AS (
      |  SELECT source, loss,
      |    floor(1.0e0 / d * 1e9) / 1e9 AS w
      |  FROM loss CROSS JOIN dd),
      |$roundCtes
      |$trace
      |ORDER BY round, source""".stripMargin
  }

  /** q315: USER-LEVEL differential privacy with bounded
    * contribution ([[Privacy.boundContribution]] +
    * [[Privacy.laplaceRelease]], Wilson et al. 2020) — the q308
    * mechanism made honest for event tables: per-nation ORDER
    * counts, but one customer can place many orders, so raw count
    * sensitivity is unbounded; capping each customer at 5 orders
    * (deterministic o_orderkey preference) makes sensitivity exactly
    * 5, and the Laplace scale grows to match (5/ε). The oracle
    * replays the cap window, the customer→nation join, and the
    * seeded draw bit-exactly. The per-user window shuffles once on
    * the user key; everything after is group-table-sized. */
  def q315DpBoundedContribution(s: SparkSession,
      d: String): DataFrame = {
    val capped = Privacy.boundContribution(
      orders(s, d).select(col("o_custkey"), col("o_orderkey")),
      col("o_custkey"), col("o_orderkey"), cap = 5)
    val base = capped.join(
      customer(s, d).select(col("c_custkey"), col("c_nationkey")),
      col("o_custkey") === col("c_custkey"))
    Privacy.laplaceRelease(base,
        groupCols = Seq(col("c_nationkey")),
        groupNames = Seq("c_nationkey"),
        epsilon = 1.0, seed = "dpu:", sensitivity = 5.0)
      .orderBy(col("c_nationkey"))
  }

  private val q315Oracle: String =
    """WITH capped AS (
      |  SELECT o_custkey FROM (
      |    SELECT o_custkey, row_number() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      |    FROM orders) t WHERE rn <= 5),
      |base AS (
      |  SELECT c.c_nationkey
      |  FROM capped k JOIN customer c ON k.o_custkey = c.c_custkey),
      |counts AS (
      |  SELECT c_nationkey, COUNT(*) AS true_count
      |  FROM base GROUP BY 1),
      |n AS (
      |  SELECT c_nationkey, true_count,
      |    (CAST(('0x' || substr(md5('dpu:' ||
      |        CAST(c_nationkey AS VARCHAR)), 1, 6))::UBIGINT
      |      AS DOUBLE) + 0.5e0) / 16777216.0e0 AS u
      |  FROM counts),
      |r AS (
      |  SELECT c_nationkey, true_count,
      |    -(5.0e0 / 1.0e0) *
      |      (CASE WHEN u - 0.5e0 >= 0 THEN 1.0e0 ELSE -1.0e0 END) *
      |      (floor(ln(1.0e0 - 2.0e0 * abs(u - 0.5e0)) * 1e9) / 1e9)
      |      AS noise
      |  FROM n)
      |SELECT c_nationkey, true_count, noise,
      |  CAST(true_count AS DOUBLE) + noise AS noisy_count,
      |  GREATEST(CAST(FLOOR(CAST(true_count AS DOUBLE) + noise
      |    + 0.5e0) AS BIGINT), 0) AS released_count,
      |  1.0e0 AS epsilon, 5.0e0 AS sensitivity
      |FROM r ORDER BY c_nationkey""".stripMargin

  /** q317: exact two-sample Kolmogorov–Smirnov drift test
    * ([[graft.operators.HypothesisTests.ksTwoSample]]) — both
    * branches value-checked: the organic de-vs-rest length
    * comparison (distributions match by construction → accept) and
    * a planted group shifted to [5000, 5030) (D ≈ 1 → reject). The
    * gap numerator stays in exact DECIMAL(38,0) integers; the sup
    * runs over the distinct-value table. */
  def q317KsTest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.HypothesisTests
    val base = documents(s, d).select(col("lang"), col("n_chars"))
    val planted = (0 until 30).map(i => ("xx", 5000L + i))
      .toDF("lang", "n_chars")
    val t1 = HypothesisTests.ksTwoSample(base, col("n_chars"),
        col("lang") === "de")
      .select(lit("de_vs_rest").as("test"), col("n_a"), col("n_b"),
        col("d_stat"), col("crit"), col("reject"))
    val t2 = HypothesisTests.ksTwoSample(base.unionByName(planted),
        col("n_chars"), col("lang") === "xx")
      .select(lit("planted_shift").as("test"), col("n_a"),
        col("n_b"), col("d_stat"), col("crit"), col("reject"))
    t1.unionByName(t2).orderBy(col("test"))
  }

  private val q317Oracle: String = {
    def ks(tag: String, src: String, condA: String): String =
      s"""vals_$tag AS (
        |  SELECT n_chars AS v,
        |    SUM(CASE WHEN $condA THEN 1 ELSE 0 END) AS na_v,
        |    SUM(CASE WHEN $condA THEN 0 ELSE 1 END) AS nb_v
        |  FROM $src WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum_$tag AS (
        |  SELECT SUM(na_v) OVER (ORDER BY v) AS ca,
        |    SUM(nb_v) OVER (ORDER BY v) AS cb
        |  FROM vals_$tag),
        |nn_$tag AS (
        |  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |    CAST(SUM(nb_v) AS BIGINT) AS n_b
        |  FROM vals_$tag),
        |dd_$tag AS (
        |  SELECT n_a, n_b,
        |    MAX(ABS(CAST(ca AS DECIMAL(38,0)) * n_b -
        |      CAST(cb AS DECIMAL(38,0)) * n_a)) AS d_num
        |  FROM cum_$tag CROSS JOIN nn_$tag GROUP BY 1, 2)""".stripMargin
    def sel(tag: String, label: String): String =
      s"""SELECT '$label' AS test, n_a, n_b,
        |  CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
        |    AS d_stat,
        |  1.358e0 * sqrt(CAST(n_a + n_b AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * n_b)) AS crit,
        |  CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b) >
        |    1.358e0 * sqrt(CAST(n_a + n_b AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) * n_b)) AS reject
        |FROM dd_$tag""".stripMargin
    s"""WITH base AS (SELECT lang, n_chars FROM documents),
      |allx AS (
      |  SELECT lang, n_chars FROM documents
      |  UNION ALL
      |  SELECT 'xx', 5000 + i FROM range(0, 30) t(i)),
      |${ks("a", "base", "lang = 'de'")},
      |${ks("b", "allx", "lang = 'xx'")}
      |${sel("a", "de_vs_rest")}
      |UNION ALL
      |${sel("b", "planted_shift")}
      |ORDER BY test""".stripMargin
  }

  /** q318: per-source exact binomial digit audit under BH FDR
    * control ([[graft.operators.HypothesisTests.binomialBhAudit]])
    * — which sources' leading-digit-1 rate departs from the pooled
    * corpus rate, at FDR 0.05 across all sources. The planted
    * source (40 docs, n_chars ∈ [100, 140) → rate 1.0) must be the
    * rejection; the 20 organic sources fluctuate within binomial
    * noise and must survive. The oracle replays the pmf log
    * recurrence, both tails, and the BH ranking bit-identically. */
  def q318BinomialBh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = documents(s, d).select(col("source"), col("n_chars"))
    val planted = (0 until 40).map(i => ("biased9", 100L + i))
      .toDF("source", "n_chars")
    graft.operators.HypothesisTests.binomialBhAudit(
        base.unionByName(planted), col("source"), "source",
        substring(col("n_chars").cast("string"), 1, 1) === "1",
        alpha = 0.05)
      .orderBy(col("source"))
  }

  private val q318Oracle: String =
    """WITH base AS (
      |  SELECT source, n_chars FROM documents
      |  UNION ALL
      |  SELECT 'biased9', 100 + i FROM range(0, 40) t(i)),
      |g AS (
      |  SELECT source, COUNT(*) AS n,
      |    SUM(CASE WHEN substr(CAST(n_chars AS VARCHAR), 1, 1) = '1'
      |      THEN 1 ELSE 0 END) AS k
      |  FROM base GROUP BY 1),
      |tot AS (SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS p0 FROM g),
      |grid AS (
      |  SELECT g.source, g.n, g.k, tot.p0,
      |    unnest(range(0, g.n + 1)) AS j
      |  FROM g CROSS JOIN tot),
      |st AS (
      |  SELECT source, n, k, p0, j,
      |    CASE WHEN j = 0 THEN 0.0e0 ELSE
      |      floor(ln(CAST(n - j + 1 AS DOUBLE) / j) * 1e12) / 1e12
      |      + floor(ln(p0 / (1.0e0 - p0)) * 1e12) / 1e12 END AS lnr
      |  FROM grid),
      |pm AS (
      |  SELECT source, n, k, p0, j,
      |    CAST(CAST(n AS DECIMAL(12,0)) *
      |      CAST(floor(ln(1.0e0 - p0) * 1e12) / 1e12
      |        AS DECIMAL(20,12)) AS DOUBLE)
      |    + CAST(SUM(CAST(lnr AS DECIMAL(38,12))) OVER (
      |        PARTITION BY source ORDER BY j) AS DOUBLE) AS lnpmf
      |  FROM st),
      |pf AS (
      |  SELECT source, n, k, p0, j,
      |    floor(exp(lnpmf) * 1e12) / 1e12 AS pmf
      |  FROM pm),
      |tails AS (
      |  SELECT source, n, k, p0,
      |    CAST(SUM(CAST(CASE WHEN j <= k THEN pmf ELSE 0.0e0 END
      |      AS DECIMAL(38,12))) AS DOUBLE) AS lo,
      |    CAST(SUM(CAST(CASE WHEN j >= k THEN pmf ELSE 0.0e0 END
      |      AS DECIMAL(38,12))) AS DOUBLE) AS hi
      |  FROM pf GROUP BY 1, 2, 3, 4),
      |p AS (
      |  SELECT source, n, k, CAST(k AS DOUBLE) / n AS rate,
      |    CASE WHEN p0 <= 0.0e0 OR p0 >= 1.0e0 THEN 1.0e0
      |      ELSE LEAST(1.0e0, 2.0e0 * LEAST(lo, hi)) END AS p_value
      |  FROM tails),
      |m AS (SELECT COUNT(*) AS m FROM p),
      |r AS (
      |  SELECT p.source, p.n, p.k, p.rate, p.p_value, m.m,
      |    row_number() OVER (ORDER BY p.p_value, p.source)
      |      AS bh_rank
      |  FROM p CROSS JOIN m),
      |ct AS (
      |  SELECT MAX(CASE WHEN p_value <=
      |      CAST(bh_rank AS DOUBLE) * 0.05e0 / m
      |    THEN bh_rank ELSE 0 END) AS cut
      |  FROM r)
      |SELECT r.source, CAST(r.n AS BIGINT) AS n,
      |  CAST(r.k AS BIGINT) AS k, r.rate, r.p_value, r.bh_rank,
      |  r.bh_rank <= ct.cut AS rejected
      |FROM r CROSS JOIN ct ORDER BY r.source""".stripMargin

  /** q321: RHO-style excess-loss data selection
    * ([[graft.operators.Reweighting.excessLossSelect]], Mindermann
    * et al. 2022) at ρ = 0.25 — the per-EXAMPLE companion to q310's
    * per-domain DoReMi reweighting: each document carries a
    * current-model and a reference-model loss (the md5 device, 3
    * exact decimal digits — an engine-portable stand-in for two
    * scored model passes that keeps every loss, excess, threshold,
    * and tie replayable), and training keeps every row whose excess
    * clears the ⌈ρ·n⌉-th-largest boundary, ties at the threshold
    * all kept. The oracle replays the losses, the distinct-excess
    * cumulative table, the threshold, and the flag per row. */
  def q321ExcessLossSelect(s: SparkSession, d: String): DataFrame = {
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10000
    val scored = documents(s, d).select(col("doc_id"),
      (h("rho:l:").cast("double") / 1000.0).as("model_loss"),
      (h("rho:r:").cast("double") / 1000.0).as("ref_model_loss"))
    graft.operators.Reweighting.excessLossSelect(scored, "doc_id",
        "model_loss", "ref_model_loss", rho = 0.25)
      .orderBy(col("id"))
  }

  private val q321Oracle: String =
    """WITH s AS (
      |  SELECT doc_id AS id,
      |    floor((('0x' || substr(md5('rho:l:' || doc_id), 1, 8))
      |      ::UBIGINT::BIGINT % 10000) / 1000.0 * 1e9) / 1e9
      |      AS loss,
      |    floor((('0x' || substr(md5('rho:r:' || doc_id), 1, 8))
      |      ::UBIGINT::BIGINT % 10000) / 1000.0 * 1e9) / 1e9
      |      AS ref_loss
      |  FROM documents),
      |sx AS (
      |  SELECT id, loss, ref_loss,
      |    floor((loss - ref_loss) * 1e9) / 1e9 AS excess
      |  FROM s),
      |d AS (SELECT excess, COUNT(*) AS c FROM sx GROUP BY 1),
      |cum AS (
      |  SELECT excess, CAST(SUM(c) OVER (ORDER BY excess DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cm
      |  FROM d),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM sx),
      |thr AS (
      |  SELECT MAX(excess) AS threshold,
      |    CAST(CEIL(0.25 * CAST(n_total AS DOUBLE)) AS BIGINT)
      |      AS k_target,
      |    n_total
      |  FROM cum, n
      |  WHERE cm >= CAST(CEIL(0.25 * CAST(n_total AS DOUBLE))
      |    AS BIGINT)
      |  GROUP BY n_total)
      |SELECT id, loss, ref_loss, excess,
      |  excess >= threshold AS selected, n_total, k_target, threshold
      |FROM sx, thr ORDER BY id""".stripMargin

  /** q323: Pearson chi-squared independence audit
    * ([[graft.operators.HypothesisTests.chiSquaredIndependence]]) —
    * the hypothesis family's CATEGORICAL member next to q317's
    * continuous KS and q318's per-group rates: is a 4-level
    * document category independent of language? Two value-checked
    * branches at the χ²₀.₀₅ critical value for dof = 4·3 = 12
    * (21.026): `organic_independent` uses an md5-derived category
    * (independent of lang by construction — X² ≈ 10.8 at sf0.01,
    * accept) and `planted_dependent` collapses zh documents onto
    * two of the four categories (X² ≈ 54, reject). The oracle
    * replays the category hash, the contingency cells, both
    * margins, the exact DECIMAL inner terms, and the t12/decimal
    * sum. */
  def q323ChiSquared(s: SparkSession, d: String): DataFrame = {
    val h4 = conv(substring(md5(concat(lit("chi2:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 4
    val base = documents(s, d).select(col("doc_id"), col("lang"))
      .withColumn("h4", h4)
    val crit12 = 21.026 // χ² upper-5% point at dof 12
    val t1 = graft.operators.HypothesisTests.chiSquaredIndependence(
        base, col("lang"), col("h4"), crit12)
      .withColumn("test", lit("organic_independent"))
    val planted = base.withColumn("cat",
      when(col("lang") === "zh", col("h4") % 2)
        .otherwise(col("h4")))
    val t2 = graft.operators.HypothesisTests.chiSquaredIndependence(
        planted, col("lang"), col("cat"), crit12)
      .withColumn("test", lit("planted_dependent"))
    t1.unionByName(t2)
      .select(col("test"), col("n"), col("n_rows"), col("n_cols"),
        col("dof"), col("x2"), col("crit"), col("reject"))
      .orderBy(col("test"))
  }

  private val q323Oracle: String = {
    // one branch's replay over a caller-supplied category expression
    def branch(catSql: String, label: String): String =
      s"""SELECT '$label' AS test, n.n, t.nr AS n_rows, t.nc AS n_cols,
        |  (t.nr - 1) * (t.nc - 1) AS dof,
        |  CAST(SUM(CAST(floor(
        |      ((ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE *
        |       (ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE) /
        |      ((n.n::DOUBLE * rm.rn) * cm.cn) * 1e12) / 1e12
        |    AS DECIMAL(38,12))) AS DOUBLE) AS x2,
        |  CAST(21.026 AS DOUBLE) AS crit,
        |  CAST(SUM(CAST(floor(
        |      ((ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE *
        |       (ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE) /
        |      ((n.n::DOUBLE * rm.rn) * cm.cn) * 1e12) / 1e12
        |    AS DECIMAL(38,12))) AS DOUBLE) > CAST(21.026 AS DOUBLE) AS reject
        |FROM (SELECT lang AS r, CAST($catSql AS VARCHAR) AS c,
        |    COUNT(*) AS o FROM b GROUP BY 1, 2) ce
        |JOIN (SELECT lang AS r, COUNT(*) AS rn FROM b GROUP BY 1) rm
        |  ON ce.r = rm.r
        |JOIN (SELECT CAST($catSql AS VARCHAR) AS c, COUNT(*) AS cn
        |    FROM b GROUP BY 1) cm ON ce.c = cm.c
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b) n
        |CROSS JOIN (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT $catSql) AS BIGINT) AS nc FROM b) t
        |GROUP BY n.n, t.nr, t.nc""".stripMargin
    s"""WITH b AS (
      |  SELECT lang,
      |    ('0x' || substr(md5('chi2:' || doc_id), 1, 8))
      |      ::UBIGINT::BIGINT % 4 AS h4,
      |    CASE WHEN lang = 'zh'
      |      THEN ('0x' || substr(md5('chi2:' || doc_id), 1, 8))
      |        ::UBIGINT::BIGINT % 4 % 2
      |      ELSE ('0x' || substr(md5('chi2:' || doc_id), 1, 8))
      |        ::UBIGINT::BIGINT % 4 END AS cat
      |  FROM documents)
      |${branch("h4", "organic_independent")}
      |UNION ALL
      |${branch("cat", "planted_dependent")}
      |ORDER BY test""".stripMargin
  }

  /** q325: chi-squared POWER SWEEP
    * ([[graft.operators.HypothesisTests.chiSquaredIndependenceBy]],
    * the q147 recall-sweep device applied to the q323 test): a
    * known lang→category association is PLANTED at five strengths
    * δ ∈ {0, .03, .06, .12, .25} — per document, an md5-uniform
    * u ∈ [0, 65536) decides (u < ⌊δ·65536⌋, integer thresholds
    * computed once and shipped as literals to both engines) whether
    * the category is the deterministic lang function or the
    * independent q323-style hash — and each δ-variant is tested at
    * the same χ²₀.₀₅/dof-12 critical value. The reject column
    * traces the detection threshold at this n; `w` = √(X²/n) is the
    * measured Cohen effect size the planted δ should move
    * monotonically. Oracle replays both hashes, the grid cross
    * join, the per-variant contingency/margin tables, and the exact
    * DECIMAL/t12 X² stack. */
  def q325ChiSquaredPower(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("pw:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 65536
    val h4 = conv(substring(md5(concat(lit("pw2:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 4
    // ⌊δ·65536⌋ for the grid, driver-side once (the scaledGains
    // discipline: ONE set of integer thresholds feeds both engines)
    val grid = Seq("0.00" -> 0L, "0.03" -> 1966L, "0.06" -> 3932L,
      "0.12" -> 7864L, "0.25" -> 16384L)
    val planted = documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("u", u).withColumn("h4", h4)
      .select(col("lang"), col("u"), col("h4"),
        explode(array(grid.map { case (lbl, t) =>
          struct(lit(lbl).as("variant"), lit(t).as("t"))
        }: _*)).as("g"))
      .withColumn("cat",
        when(col("u") < col("g.t"),
          ascii(substring(col("lang"), 1, 1)) % 4)
          .otherwise(col("h4")))
    graft.operators.HypothesisTests.chiSquaredIndependenceBy(
        planted, col("g.variant"), col("lang"), col("cat"), 21.026)
      .orderBy(col("variant"))
  }

  private val q325Oracle: String = {
    val term =
      """floor(
        |      ((ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE *
        |       (ce.o::DECIMAL(18,0) * n.n -
        |        rm.rn::DECIMAL(18,0) * cm.cn)::DOUBLE) /
        |      ((n.n::DOUBLE * rm.rn) * cm.cn) * 1e12) / 1e12""".stripMargin
    s"""WITH b AS (
      |  SELECT lang,
      |    ('0x' || substr(md5('pw:' || doc_id), 1, 8))
      |      ::UBIGINT::BIGINT % 65536 AS u,
      |    ('0x' || substr(md5('pw2:' || doc_id), 1, 8))
      |      ::UBIGINT::BIGINT % 4 AS h4
      |  FROM documents),
      |g(variant, t) AS (VALUES ('0.00', 0), ('0.03', 1966),
      |  ('0.06', 3932), ('0.12', 7864), ('0.25', 16384)),
      |p AS (
      |  SELECT g.variant, b.lang,
      |    CASE WHEN b.u < g.t THEN ascii(substr(b.lang, 1, 1)) % 4
      |      ELSE b.h4 END AS cat
      |  FROM b CROSS JOIN g),
      |ce AS (SELECT variant, lang AS r, CAST(cat AS VARCHAR) AS c,
      |    COUNT(*) AS o FROM p GROUP BY 1, 2, 3),
      |rm AS (SELECT variant, lang AS r, COUNT(*) AS rn
      |  FROM p GROUP BY 1, 2),
      |cm AS (SELECT variant, CAST(cat AS VARCHAR) AS c, COUNT(*) AS cn
      |  FROM p GROUP BY 1, 2),
      |n AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS nr,
      |    CAST(COUNT(DISTINCT cat) AS BIGINT) AS nc
      |  FROM p GROUP BY 1),
      |x AS (
      |  SELECT ce.variant, n.n, n.nr, n.nc,
      |    CAST(SUM(CAST($term AS DECIMAL(38,12))) AS DOUBLE) AS x2
      |  FROM ce
      |  JOIN rm ON ce.variant = rm.variant AND ce.r = rm.r
      |  JOIN cm ON ce.variant = cm.variant AND ce.c = cm.c
      |  JOIN n ON ce.variant = n.variant
      |  GROUP BY ce.variant, n.n, n.nr, n.nc)
      |SELECT variant, n, nr AS n_rows, nc AS n_cols,
      |  (nr - 1) * (nc - 1) AS dof, x2,
      |  floor(sqrt(x2 / n) * 1e12) / 1e12 AS w,
      |  CAST(21.026 AS DOUBLE) AS crit,
      |  x2 > CAST(21.026 AS DOUBLE) AS reject
      |FROM x ORDER BY variant""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q325_chi_squared_power" -> (q325ChiSquaredPower _),
    "q323_chi_squared" -> (q323ChiSquared _),
    "q321_excess_loss_select" -> (q321ExcessLossSelect _),
    "q299_record_linkage" -> (q299RecordLinkage _),
    "q271_k_anonymity_audit" -> (q271KAnonymityAudit _),
    "q272_generalization_ladder" -> (q272GeneralizationLadder _),
    "q273_rendezvous_shards" -> (q273RendezvousShards _),
    "q274_quantile_calibration" -> (q274QuantileCalibration _),
    "q275_lsh_plan" -> (q275LshPlan _),
    "q276_redirect_resolution" -> (q276RedirectResolution _),
    "q277_memorization_audit" -> (q277MemorizationAudit _),
    "q278_exact_contamination" -> (q278ExactContamination _),
    "q280_phrase_blocklist" -> (q280PhraseBlocklist _),
    "q281_checksum_pii" -> (q281ChecksumPii _),
    "q290_t_closeness" -> (q290TCloseness _),
    "q301_lsh_recommend" -> (q301LshRecommend _),
    "q304_shard_balance" -> (q304ShardBalance _),
    "q307_diversity_audit" -> (q307DiversityAudit _),
    "q308_dp_release" -> (q308DpRelease _),
    "q309_disparate_impact" -> (q309DisparateImpact _),
    "q310_domain_reweight" -> (q310DomainReweight _),
    "q315_dp_bounded_contribution" -> (q315DpBoundedContribution _),
    "q317_ks_test" -> (q317KsTest _),
    "q318_binomial_bh" -> (q318BinomialBh _),
    "q311_isotonic_calibration" -> (q311IsotonicCalibration _),
    "q312_conformal_thresholds" -> (q312ConformalThresholds _),
  )

  val oracle: Map[String, String] = Map(
    "q325_chi_squared_power" -> q325Oracle,
    "q323_chi_squared" -> q323Oracle,
    "q321_excess_loss_select" -> q321Oracle,
    "q299_record_linkage" -> q299Oracle,
    "q271_k_anonymity_audit" -> q271Oracle,
    "q272_generalization_ladder" -> q272Oracle,
    "q273_rendezvous_shards" -> q273Oracle,
    "q274_quantile_calibration" -> q274Oracle,
    "q275_lsh_plan" -> q275Oracle,
    "q276_redirect_resolution" -> q276Oracle,
    "q277_memorization_audit" -> q277Oracle,
    "q278_exact_contamination" -> q278Oracle,
    "q280_phrase_blocklist" -> q280Oracle,
    "q281_checksum_pii" -> q281Oracle,
    "q290_t_closeness" -> q290Oracle,
    "q301_lsh_recommend" -> q301Oracle,
    "q304_shard_balance" -> q304Oracle,
    "q307_diversity_audit" -> q307Oracle,
    "q308_dp_release" -> q308Oracle,
    "q309_disparate_impact" -> q309Oracle,
    "q310_domain_reweight" -> q310Oracle,
    "q315_dp_bounded_contribution" -> q315Oracle,
    "q317_ks_test" -> q317Oracle,
    "q318_binomial_bh" -> q318Oracle,
    "q311_isotonic_calibration" -> q311Oracle,
    "q312_conformal_thresholds" -> q312Oracle,
  )
}
