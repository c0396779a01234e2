package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Bounded top-k aggregation (SURVEY §4: the similarity top-k physical
  * shape). A ranked window over the scored cross product shuffles and
  * sorts every (query, corpus) pair; this `Aggregator` keeps a k-sized
  * buffer per query on the map side, so the shuffle carries at most
  * k rows per partition per query — the 100 TB formulation of T1.
  *
  * Ordering is (score desc, id asc) under [[scoreOrder]] — the order
  * Spark's window sort applies — so results are bit-compatible with
  * the window formulation and the DuckDB oracle.
  */
object TopK {

  case class Scored(id: Long, score: Double)

  case class ScoredS(id: String, score: Double)

  /** The engine's one score order, descending: < 0 ⇔ `s1` ranks
    * strictly ahead of `s2`. It is the order Spark's window sort
    * applies to `desc(score)` on a DoubleType (nanSafeCompareDoubles):
    * NaN ranks first, and -0.0 ties 0.0 (`java.lang.Double.compare`
    * would rank NaN last and 0.0 ahead of -0.0). Shared by both
    * buffers here, and through [[insert]] by the
    * [[graft.functions.TopCells]] kernel. */
  private[graft] def scoreOrder(s1: Double, s2: Double): Int = {
    val n1 = java.lang.Double.isNaN(s1)
    val n2 = java.lang.Double.isNaN(s2)
    if ((n1 && n2) || s1 == s2) 0
    else if (n1 || (!n2 && s1 > s2)) -1
    else 1
  }

  /** The ANN operators' id contract, checked at their entry: ids ride
    * the primitive-`long` heap buffer and cast back, so `column` must
    * be integral. String ids go through
    * [[SimilaritySearch.bruteForceTopKHeap]]. */
  private[operators] def requireIntegralId(df: DataFrame,
      column: String): Unit = {
    val t = df.schema(column).dataType
    if (!isIntegral(t)) throw new IllegalArgumentException(
      s"id column '$column' must be integral (TINYINT, SMALLINT, " +
        s"INT or BIGINT), got ${t.sql}")
  }

  /** The engine's one integral-type test: TINYINT, SMALLINT, INT or
    * BIGINT. */
  private[operators] def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The ANN operators' count-parameter check, at entry: each named
    * value must be ≥ 1; the failure names the caller's parameter. */
  private[operators] def requirePositive(params: (String, Int)*): Unit =
    params.foreach { case (name, v) =>
      require(v >= 1, s"$name must be >= 1 ($v)")
    }

  /** Compact bounded top-k buffer (r15): parallel PRIMITIVE arrays
    * kept sorted best-first — replaces the PriorityQueue[Scored]
    * buffer whose per-element `exists` membership scan allocated a
    * boxed iterator per candidate row and whose kryo form serialized
    * one case object per kept element (the NN-descent candidate
    * stream pushes ~10⁷ rows/round through reduce()). */
  final class TopKBuf(val scores: Array[Double], val ids: Array[Long],
      var n: Int) extends Serializable {
    def this(k: Int) = this(new Array[Double](k), new Array[Long](k), 0)
  }

  /** < 0 ⇔ (s1, id1) ranks strictly better: [[scoreOrder]], then id
    * ascending. */
  private def cmp(s1: Double, id1: Long, s2: Double, id2: Long): Int = {
    val c = scoreOrder(s1, s2)
    if (c != 0) c else java.lang.Long.compare(id1, id2)
  }

  /** Bounded insert, optionally skipping ids already in the buffer
    * (the `dedup` contract of [[TopKAgg]]). Also the
    * [[graft.functions.TopCells]] kernel's per-row cell list. */
  private[graft] def insert(b: TopKBuf, k: Int, s: Double, id: Long,
      dedup: Boolean): Unit = {
    // fast reject first: on a converged candidate stream most rows
    // lose to the current worst — don't pay the membership scan for
    // them (a rejected duplicate changes nothing either way)
    if (b.n == k && cmp(s, id, b.scores(k - 1), b.ids(k - 1)) >= 0)
      return
    if (dedup) {
      var i = 0
      while (i < b.n) { if (b.ids(i) == id) return; i += 1 }
    }
    var pos = if (b.n < k) { b.n += 1; b.n - 1 } else k - 1
    while (pos > 0 && cmp(s, id, b.scores(pos - 1), b.ids(pos - 1)) < 0) {
      b.scores(pos) = b.scores(pos - 1); b.ids(pos) = b.ids(pos - 1)
      pos -= 1
    }
    b.scores(pos) = s; b.ids(pos) = id
  }

  /** Bounded top-k over integral ids. With `dedup`, an id already in
    * the buffer is skipped. That is sound ONLY when duplicate ids
    * always carry the SAME score (true when score is a deterministic
    * function of (query, id) — the NN-descent and IVF candidate
    * streams): a duplicate whose twin is in the buffer is skipped by
    * the membership scan; one whose twin was evicted can never
    * re-enter because eviction implies every kept element beats it
    * and the insert test is strict. It replaces a
    * distinct→window→row_number chain over the full candidate stream
    * with one map-side-partial aggregation (r14 SegProbe: the
    * candidate distinct + window sort were ~50 s CPU per NN-descent
    * round at sf0.1 where the dot products were ~1 s). */
  class TopKAgg(k: Int, dedup: Boolean = false)
      extends Aggregator[Scored, TopKBuf, Seq[Scored]] {
    def zero: TopKBuf = new TopKBuf(k)
    def reduce(buf: TopKBuf, s: Scored): TopKBuf = {
      insert(buf, k, s.score, s.id, dedup)
      buf
    }
    def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var i = 0
      while (i < b.n) { insert(a, k, b.scores(i), b.ids(i), dedup); i += 1 }
      a
    }
    def finish(buf: TopKBuf): Seq[Scored] =
      (0 until buf.n).map(i => Scored(buf.ids(i), buf.scores(i)))
    def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]
    def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** (score desc, id asc) over string ids: [[scoreOrder]], then
    * `String.compareTo`. */
  private final class ScoredSOrdering extends Ordering[ScoredS] {
    def compare(a: ScoredS, b: ScoredS): Int = {
      val c = scoreOrder(a.score, b.score)
      if (c != 0) c else a.id.compareTo(b.id)
    }
  }

  /** [[TopKAgg]] for string ids (chunk ids), same order. */
  class TopKAggS(k: Int)
      extends Aggregator[ScoredS, mutable.PriorityQueue[ScoredS],
        Seq[ScoredS]] {
    private val ord = new ScoredSOrdering
    def zero: mutable.PriorityQueue[ScoredS] =
      mutable.PriorityQueue.empty(ord)
    def reduce(buf: mutable.PriorityQueue[ScoredS],
        s: ScoredS): mutable.PriorityQueue[ScoredS] = {
      if (buf.size < k) buf.enqueue(s)
      else if (ord.lt(s, buf.head)) { buf.dequeue(); buf.enqueue(s) }
      buf
    }
    def merge(a: mutable.PriorityQueue[ScoredS],
        b: mutable.PriorityQueue[ScoredS]): mutable.PriorityQueue[ScoredS] = {
      b.foreach(s => reduce(a, s))
      a
    }
    def finish(buf: mutable.PriorityQueue[ScoredS]): Seq[ScoredS] =
      buf.toSeq.sorted(ord)
    def bufferEncoder: Encoder[mutable.PriorityQueue[ScoredS]] =
      Encoders.kryo[mutable.PriorityQueue[ScoredS]]
    def outputEncoder: Encoder[Seq[ScoredS]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Per-`qid` top-k of a (qid, id, score) frame → (qid LONG, cid,
    * score DOUBLE, rnk INT) best-first. A STRING `id` column takes
    * [[TopKAggS]] and yields a string `cid`; any other id is cast to
    * LONG. */
  def perQuery(scored: DataFrame, k: Int): DataFrame =
    rank(scored, k, dedup = false)

  /** [[perQuery]] with in-buffer id dedup (the [[TopKAgg]] `dedup`
    * contract: duplicate ids always carry equal scores). Integral ids
    * only. */
  def perQueryDedup(scored: DataFrame, k: Int): DataFrame =
    rank(scored, k, dedup = true)

  private def rank(scored: DataFrame, k: Int, dedup: Boolean): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val qid = col("qid").cast("long").as("qid")
    val score = col("score").cast("double").as("score")
    val topk = scored.schema("id").dataType match {
      case StringType =>
        require(!dedup, "the dedup top-k needs integral ids")
        scored.select(qid, col("id").cast("string").as("id"), score)
          .as[(Long, String, Double)]
          .groupByKey(_._1)
          .mapValues(t => ScoredS(t._2, t._3))
          .agg(new TopKAggS(k).toColumn.name("topk"))
          .toDF("qid", "topk")
      case _ =>
        scored.select(qid, col("id").cast("long").as("id"), score)
          .as[(Long, Long, Double)]
          .groupByKey(_._1)
          .mapValues(t => Scored(t._2, t._3))
          .agg(new TopKAgg(k, dedup).toColumn.name("topk"))
          .toDF("qid", "topk")
    }
    topk
      .select(col("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col.id").as("cid"),
        col("col.score").as("score"), (col("pos") + 1).as("rnk"))
  }
}
