package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Heap top-k == window top-k, bit for bit (T1 at the 100 TB shape). */
class TopKSpec extends SparkTestBase {

  test("heap and window brute-force top-k agree on testdata") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val window = SimilaritySearch.bruteForceTopK(
      queries, "vec_id", emb, "vec_id", "embedding", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val heap = SimilaritySearch.bruteForceTopKHeap(
      queries, "vec_id", emb, "vec_id", "embedding", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(heap === window)
  }

  test("heap top-k handles k larger than group size") {
    import spark.implicits._
    val scored = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (2L, 12L, 0.1))
      .toDF("qid", "id", "score")
    val got = TopK.perQuery(scored, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSet === Set((1L, 11L, 1), (1L, 10L, 2), (2L, 12L, 1)))
  }

  test("ties break on id ascending (deterministic)") {
    import spark.implicits._
    val scored = Seq((1L, 20L, 0.7), (1L, 10L, 0.7), (1L, 30L, 0.7))
      .toDF("qid", "id", "score")
    val got = TopK.perQuery(scored, 2)
      .orderBy("rnk").collect().map(_.getLong(1))
    assert(got.toSeq === Seq(10L, 20L))
  }

  // the r14 optimization contract: the dedup-heap over a DUPLICATED
  // candidate stream must equal distinct→window→row_number exactly
  // (score a deterministic function of (qid, id) — equal-score dups)
  test("dedup heap equals distinct+window on a duplicated stream") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = (for {
      q <- 0L until 40L; c <- 0L until 60L
      copies <- 0 until (1 + ((q + c) % 3).toInt)
    } yield (q, c, ((q * 31 + c * 17) % 101).toDouble / 101.0))
    val scored = base.toDF("qid", "id", "score")
    val viaHeap = TopK.perQueryDedup(scored, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    val viaWindow = scored.distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(viaHeap === viaWindow)
  }

  test("dedup heap: a duplicate can never occupy two of the k slots") {
    import spark.implicits._
    val scored = Seq((1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 10L, 0.9),
      (1L, 20L, 0.5), (1L, 30L, 0.4))
      .toDF("qid", "id", "score")
    val got = TopK.perQueryDedup(scored, 2)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq((10L, 1), (20L, 2)))
  }

  /** Heap vs window brute-force top-k on a hand-built corpus, for
    * every k, with the ids as BIGINT and as STRING (both heap
    * buffers). */
  private def heapEqualsWindow(corpus: Seq[(Long, Seq[Double])],
      query: Seq[Double]): Unit = {
    import spark.implicits._
    val c = corpus.toDF("id", "vec")
    val q = Seq((100L, query)).toDF("id", "vec")
    for (idType <- Seq("bigint", "string"); k <- 1 to corpus.size) {
      val cc = c.withColumn("id", col("id").cast(idType))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.get(1).toString,
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          r.getInt(3))).toSeq.sortBy(_._3)
      val window = rows(SimilaritySearch.bruteForceTopK(
        q, "id", cc, "id", "vec", k))
      val heap = rows(SimilaritySearch.bruteForceTopKHeap(
        q, "id", cc, "id", "vec", k))
      assert(heap === window, s"ids $idType, k=$k")
    }
  }

  test("a zero-norm corpus vector fails the window and the heap " +
      "alike: the cosine divides by a zero norm under ANSI mode") {
    import spark.implicits._
    val c = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0))).toDF("id", "vec")
    val q = Seq((100L, Seq(1.0, 0.0))).toDF("id", "vec")
    for (topK <- Seq(SimilaritySearch.bruteForceTopK _,
        SimilaritySearch.bruteForceTopKHeap _)) {
      val e = intercept[Exception](
        topK(q, "id", c, "id", "vec", 2).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(_.getMessage.contains(
          "DIVIDE_BY_ZERO")), e.toString)
    }
  }

  test("heap matches the window on NaN scores (NaN ranks first, NaN " +
      "ties break on id)") {
    heapEqualsWindow(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(Double.NaN, 1.0)),
      (3L, Seq(-1.0, 0.5)), (4L, Seq(0.6, 0.8)),
      (5L, Seq(Double.PositiveInfinity, 0.0))), Seq(1.0, 0.0))
  }

  test("heap matches the window on a real -0.0 score (a tie with " +
      "0.0, broken on id)") {
    // the dot fold starts at +0.0, so a zero dot is always +0.0; a
    // tiny negative dot that underflows in the division is a true
    // -0.0: -MinPositiveValue / (1 · 4)
    val negZero = Seq(-Double.MinPositiveValue, 4.0)
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotF64, l2Norm}
    val s = Seq((Seq(1.0, 0.0), negZero)).toDF("a", "b")
      .select(dotF64(col("a"), col("b")) /
        (l2Norm(col("a")) * l2Norm(col("b"))))
      .head().getDouble(0)
    assert(1.0 / s === Double.NegativeInfinity, s"score $s is not -0.0")
    heapEqualsWindow(Seq((1L, negZero), (2L, Seq(0.0, 1.0)),
      (3L, Seq(-1.0, 0.5)), (4L, Seq(0.0, -3.0))), Seq(1.0, 0.0))
    heapEqualsWindow(Seq((1L, Seq(0.0, 1.0)), (2L, negZero),
      (3L, Seq(0.6, 0.8))), Seq(1.0, 0.0))
  }

  test("scoreOrder is the window's order: NaN first, ±0.0 tie") {
    import TopK.scoreOrder
    assert(scoreOrder(Double.NaN, 1.0) < 0)
    assert(scoreOrder(1.0, Double.NaN) > 0)
    assert(scoreOrder(Double.NaN, Double.NaN) === 0)
    assert(scoreOrder(0.0, -0.0) === 0)
    assert(scoreOrder(0.5, 0.25) < 0)
    assert(scoreOrder(Double.NegativeInfinity, -1.0) > 0)
  }
}
