package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, InterpretedOrdering, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.{ErrorBridge, PlanBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}
import graft.operators.{SimilaritySearch, TopK}

/** Exact cosine top-k as two physical operators (SURVEY §4, T1):
  *
  *  - [[CosineScanExec]], one pass per corpus partition. The query
  *    side is collected once on the driver into a packed block (ids,
  *    one `double[]` of vectors, norms) that every scan task carries.
  *    Each corpus row's vector is read once into a primitive array and
  *    scored against every query in a plain loop, and each query keeps
  *    a bounded buffer of its ≤ k best rows. A task emits ≤ k rows per
  *    query, each carrying the corpus row's id and payload columns.
  *  - [[TopKRankExec]], the per-query merge behind one exchange on
  *    `qid`: the same bounded buffers over the scan's rows, numbered
  *    `rnk` 1..k.
  *
  * Score: `dot / (qnorm · cnorm)`, where dot is the [[graft.functions.DotF64]]
  * sequential fold over the first min(len) elements (floats widened
  * first) and the norms are `l2Norm`, computed once per row by the
  * projections below the scan. These are the arithmetic and operand
  * order of the cross-join formulation, so scores are bit-identical.
  * A zero norm product fails with DIVIDE_BY_ZERO under ANSI mode, as
  * Spark's division does; without ANSI the pair is not a hit.
  *
  * Order: [[TopK.scoreOrder]] (score desc, NaN first, ±0.0 a tie),
  * then the tie columns ascending with NULLs first, the order of
  * `row_number() OVER (ORDER BY score DESC, tie…)`.
  */
object CosineTopK {

  /** Scores `corpus` (cid, cvec, cnorm, payload…) against `queries`
    * (qid LONG, qvec, qnorm): ≤ k rows (qid, cid, payload…, score)
    * per query and corpus partition. Vectors are ARRAY<FLOAT|DOUBLE>;
    * a corpus row with a NULL vector is never a hit, and the caller
    * drops queries with a NULL id or vector. */
  def scan(queries: DataFrame, corpus: DataFrame, payload: Seq[String],
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    install(spark)
    val c = corpus.queryExecution.analyzed
    val q = queries.queryExecution.analyzed
    PlanBridge.ofRows(spark, CosineScanNode(c, q, k, attr(c, "cid"),
      attr(c, "cvec"), attr(c, "cnorm"), payload.map(attr(c, _)),
      attr(q, "qid"), attr(q, "qvec"), attr(q, "qnorm"),
      AttributeReference("score", DoubleType, nullable = false)()))
  }

  /** The best `k` rows of each `qid` (LONG) of `scored` by (`score`
    * DOUBLE desc, then `ties` ascending), numbered `rnk` from 1. */
  def rank(scored: DataFrame, k: Int, ties: Seq[String]): DataFrame = {
    val spark = scored.sparkSession
    install(spark)
    val plan = scored.queryExecution.analyzed
    val (qid, score) = (attr(plan, "qid"), attr(plan, "score"))
    require(qid.dataType == LongType && score.dataType == DoubleType,
      s"rank needs qid BIGINT and score DOUBLE, got ${plan.schema.sql}")
    PlanBridge.ofRows(spark, TopKRankNode(plan, k, qid, score,
      ties.map(attr(plan, _)),
      AttributeReference("rnk", IntegerType, nullable = false)()))
  }

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found"))

  /** Registers [[CosineTopKStrategy]] on the session's experimental
    * strategies on first use (idempotent). */
  private def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(CosineTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CosineTopKStrategy

  /** The packed query block: query j is `vecs(offsets(j) until
    * offsets(j + 1))`, id `ids(j)`, norm `norms(j)`. */
  final case class QueryBlock(ids: Array[Long], vecs: Array[Double],
      offsets: Array[Int], norms: Array[Double])

  /** Packs collected (qid, qvec, qnorm) rows, after
    * [[SimilaritySearch.requireQueryBlockFits]] passes on their count
    * and largest dimension. */
  private[plans] def pack(rows: Array[InternalRow], vecIsFloat: Boolean)
      : QueryBlock = {
    val dims = rows.map(_.getArray(1).numElements())
    SimilaritySearch.requireQueryBlockFits(rows.length,
      dims.maxOption.getOrElse(0).toLong)
    val offsets = dims.scanLeft(0)(_ + _)
    val vecs = new Array[Double](offsets.last)
    rows.indices.foreach(j =>
      read(rows(j).getArray(1), vecIsFloat, vecs, offsets(j)))
    QueryBlock(rows.map(_.getLong(0)), vecs, offsets,
      rows.map(_.getDouble(2)))
  }

  /** Copies `a` into `dst` from `off`, floats widened as
    * [[graft.functions.DotF64]] reads them. */
  private[plans] def read(a: ArrayData, isFloat: Boolean,
      dst: Array[Double], off: Int): Unit = {
    val n = a.numElements()
    var i = 0
    if (isFloat) while (i < n) { dst(off + i) = a.getFloat(i).toDouble; i += 1 }
    else while (i < n) { dst(off + i) = a.getDouble(i); i += 1 }
  }

  private[plans] def isFloatVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vectors must be ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  /** One corpus partition against the block: each query's ≤ k best
    * (score, key) pairs, the key being the row's (cid, payload…) as
    * `keyOf` projects it, copied once per row that enters a buffer. */
  private[plans] def scorePartition(rows: Iterator[InternalRow],
      b: QueryBlock, k: Int, vecAt: Int, normAt: Int, isFloat: Boolean,
      keyOf: UnsafeProjection, ties: Ordering[InternalRow],
      ansi: Boolean): Array[Best] = {
    val nq = b.ids.length
    val best = Array.fill(nq)(new Best(k, ties))
    val dot = new Array[Double](nq)
    var c = new Array[Double](0)
    if (nq > 0) rows.filterNot(_.isNullAt(vecAt)).foreach { row =>
      val v = row.getArray(vecAt)
      val len = v.numElements()
      if (c.length < len) c = new Array[Double](len)
      read(v, isFloat, c, 0)
      dots(b, c, len, dot)
      val cn = row.getDouble(normAt)
      var key: InternalRow = null
      var j = 0
      while (j < nq) {
        val d = b.norms(j) * cn
        if (d == 0) {
          if (ansi) throw ErrorBridge.divideByZero()
        } else {
          val s = dot(j) / d
          if (best(j).admits(s) <= 0) {
            if (key == null) key = keyOf(row).copy()
            best(j).offer(s, key)
          }
        }
        j += 1
      }
    }
    best
  }

  /** `dot(j)` = the [[graft.functions.DotF64]] fold of query j and
    * `c(0 until len)` over their first min(len) elements, for every
    * query. Four queries share each pass over `c`; each keeps its own
    * left-to-right sum, so every dot is the fold's exact value. */
  private[plans] def dots(b: QueryBlock, c: Array[Double], len: Int,
      dot: Array[Double]): Unit = {
    val v = b.vecs
    val o = b.offsets
    val nq = b.ids.length
    var j = 0
    while (j + 4 <= nq) {
      val o0 = o(j); val o1 = o(j + 1); val o2 = o(j + 2); val o3 = o(j + 3)
      val m0 = math.min(len, o1 - o0)
      val m1 = math.min(len, o2 - o1)
      val m2 = math.min(len, o3 - o2)
      val m3 = math.min(len, o(j + 4) - o3)
      val m = math.min(math.min(m0, m1), math.min(m2, m3))
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      var i = 0
      while (i < m) {
        val x = c(i)
        d0 += v(o0 + i) * x; d1 += v(o1 + i) * x
        d2 += v(o2 + i) * x; d3 += v(o3 + i) * x
        i += 1
      }
      dot(j) = fold(v, o0, c, m, m0, d0)
      dot(j + 1) = fold(v, o1, c, m, m1, d1)
      dot(j + 2) = fold(v, o2, c, m, m2, d2)
      dot(j + 3) = fold(v, o3, c, m, m3, d3)
      j += 4
    }
    while (j < nq) {
      dot(j) = fold(v, o(j), c, 0, math.min(len, o(j + 1) - o(j)), 0.0)
      j += 1
    }
  }

  /** `acc` + Σ v(off + i) · c(i) for i in [from, to), left to right. */
  private def fold(v: Array[Double], off: Int, c: Array[Double],
      from: Int, to: Int, acc: Double): Double = {
    var a = acc
    var i = from
    while (i < to) { a += v(off + i) * c(i); i += 1 }
    a
  }

  /** A bounded buffer of the `k` best (score, row) pairs, best first,
    * under [[TopK.scoreOrder]] and then `ties` over the rows. */
  private[plans] final class Best(k: Int, ties: Ordering[InternalRow]) {
    val scores = new Array[Double](k)
    val rows = new Array[InternalRow](k)
    var n = 0

    private def cmp(s: Double, row: InternalRow, i: Int): Int = {
      val c = TopK.scoreOrder(s, scores(i))
      if (c != 0) c else ties.compare(row, rows(i))
    }

    /** < 0: `s` enters whatever its row; 0: a tie with the worst kept
      * score, the row decides; > 0: `s` cannot enter. */
    def admits(s: Double): Int =
      if (n < k) -1 else TopK.scoreOrder(s, scores(k - 1))

    /** Inserts (s, row) if it ranks strictly ahead of the worst kept
      * pair or the buffer is not full; `row` is kept as given. */
    def offer(s: Double, row: InternalRow): Unit = {
      if (n == k && cmp(s, row, k - 1) >= 0) return
      var pos = if (n < k) { n += 1; n - 1 } else k - 1
      while (pos > 0 && cmp(s, row, pos - 1) < 0) {
        scores(pos) = scores(pos - 1); rows(pos) = rows(pos - 1); pos -= 1
      }
      scores(pos) = s; rows(pos) = row
    }
  }

  /** Ascending, NULLs first, over `cols` of rows shaped as `input`. */
  private[plans] def ascending(cols: Seq[Attribute],
      input: Seq[Attribute]): Ordering[InternalRow] =
    new InterpretedOrdering(cols.map(a => SortOrder(
      BindReferences.bindReference(a: Expression, input), Ascending)))
}

/** The per-partition scan: `corpus` rows scored against the packed
  * `queries` block (see [[CosineTopK]]). */
case class CosineScanNode(corpus: LogicalPlan, queries: LogicalPlan,
    k: Int, cid: Attribute, cvec: Attribute, cnorm: Attribute,
    payload: Seq[Attribute], qid: Attribute, qvec: Attribute,
    qnorm: Attribute, score: Attribute) extends BinaryNode {
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def output: Seq[Attribute] = (qid +: cid +: payload) :+ score
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): CosineScanNode =
    copy(corpus = newLeft, queries = newRight)
}

/** The per-query merge: the best `k` rows of each `qid`, with `rnk`. */
case class TopKRankNode(child: LogicalPlan, k: Int, qid: Attribute,
    score: Attribute, ties: Seq[Attribute], rnk: Attribute)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnk
  override def producedAttributes: AttributeSet = AttributeSet(rnk)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKRankNode = copy(child = newChild)
}

/** Planner strategy for [[CosineScanNode]] and [[TopKRankNode]]. */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: CosineScanNode =>
      CosineScanExec(n.k, n.cid, n.cvec, n.cnorm, n.payload, n.qid,
        n.qvec, n.qnorm, n.score, planLater(n.corpus),
        planLater(n.queries)) :: Nil
    case n: TopKRankNode =>
      TopKRankExec(n.k, n.qid, n.score, n.ties, n.rnk,
        planLater(n.child)) :: Nil
    case _ => Nil
  }
}

case class CosineScanExec(k: Int, cid: Attribute, cvec: Attribute,
    cnorm: Attribute, payload: Seq[Attribute], qid: Attribute,
    qvec: Attribute, qnorm: Attribute, score: Attribute,
    corpus: SparkPlan, queries: SparkPlan) extends BinaryExecNode {
  import CosineTopK._

  override def left: SparkPlan = corpus
  override def right: SparkPlan = queries
  override def output: Seq[Attribute] = (qid +: cid +: payload) :+ score
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(corpus.outputPartitioning.numPartitions)

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): CosineScanExec =
    copy(corpus = newLeft, queries = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val ansi = conf.ansiEnabled
    val kk = k
    val cIn = corpus.output
    val key = cid +: payload
    val outTypes = output.map(_.dataType).toArray
    val vecAt = cIn.indexWhere(_.exprId == cvec.exprId)
    val normAt = cIn.indexWhere(_.exprId == cnorm.exprId)
    val cFloat = isFloatVector(cvec.dataType)
    // the query side, once, on the driver: (qid, qvec, qnorm) rows
    val qRows = UnsafeProjection.create(Seq(qid, qvec, qnorm), queries.output)
    val block = pack(queries.executeCollect().map(r => qRows(r).copy()),
      isFloatVector(qvec.dataType))
    val scan = corpus.execute()
    val n = scan.getNumPartitions
    if (n == 0) return sparkContext.emptyRDD[InternalRow]
    // the block rides in each scan task's partition, as a local table's
    // rows do, rather than in a broadcast: a broadcast's blocks stay in
    // storage memory until a GC lets the ContextCleaner drop them
    scan.zipPartitions(sparkContext.parallelize(Seq.fill(n)(block), n)) {
        (rows, blocks) =>
      val b = blocks.next()
      val best = scorePartition(rows, b, kk, vecAt, normAt, cFloat,
        UnsafeProjection.create(key, cIn), ascending(key, key), ansi)
      val head = new SpecificInternalRow(Seq(LongType))
      val tail = new SpecificInternalRow(Seq(DoubleType))
      val joined = new JoinedRow
      val outer = new JoinedRow
      val out = UnsafeProjection.create(outTypes)
      best.indices.iterator.flatMap { j =>
        (0 until best(j).n).iterator.map { i =>
          head.setLong(0, b.ids(j))
          tail.setDouble(0, best(j).scores(i))
          out(outer(joined(head, best(j).rows(i)), tail))
        }
      }
    }
  }
}

case class TopKRankExec(k: Int, qid: Attribute, score: Attribute,
    ties: Seq[Attribute], rnk: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  import CosineTopK._

  override def output: Seq[Attribute] = child.output :+ rnk
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(qid)) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKRankExec = copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val kk = k
    val in = child.output
    val tieCols = ties
    val qidAt = in.indexWhere(_.exprId == qid.exprId)
    val scoreAt = in.indexWhere(_.exprId == score.exprId)
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val order = ascending(tieCols, in)
      val byQuery = new java.util.LinkedHashMap[Long, Best]()
      rows.foreach { row =>
        val q = row.getLong(qidAt)
        var b = byQuery.get(q)
        if (b == null) { b = new Best(kk, order); byQuery.put(q, b) }
        if (!row.isNullAt(scoreAt)) {
          val s = row.getDouble(scoreAt)
          if (b.admits(s) <= 0) b.offer(s, row.copy())
        }
      }
      val r = new SpecificInternalRow(Seq(IntegerType))
      val joined = new JoinedRow
      val out = UnsafeProjection.create(outTypes)
      import scala.jdk.CollectionConverters._
      byQuery.values.iterator.asScala.flatMap { b =>
        (0 until b.n).iterator.map { i =>
          r.setInt(0, i + 1)
          out(joined(b.rows(i), r))
        }
      }
    }
  }
}
