package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dotF64, l2Norm}

/** The per-partition cosine kernel behind
  * [[SimilaritySearch.bruteForceTopKHeap]] must give the rows of the
  * cross-join formulation it replaced — qid, cid, score bits and rank —
  * on random, tied, ±0.0, NaN, FLOAT, short-vector and NULL inputs,
  * string and integral ids, and k past the corpus size. */
class CosineKernelSpec extends SparkTestBase {

  /** The replaced formulation: the corpus cross-joined with the
    * broadcast queries, scored per pair, ranked by the bounded-heap
    * aggregation ([[TopK.perQuery]]). */
  private def reference(queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("qid"),
      col(vecCol).as("qvec"), l2Norm(col(vecCol)).as("qnorm"))
    val c = corpus.select(col(corpusIdCol).as("id"),
      col(vecCol).as("cvec"), l2Norm(col(vecCol)).as("cnorm"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score",
        dotF64(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select(col("qid"), col("id"), col("score"))
    TopK.perQuery(scored, k)
  }

  /** (qid, cid, score bits, rnk), sorted. */
  private def rows(df: DataFrame): Seq[(Long, String, Long, Int)] =
    df.collect().map(r => (r.getLong(0), String.valueOf(r.get(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  private def same(queries: DataFrame, corpus: DataFrame, k: Int,
      clue: String): Unit = {
    val want = rows(reference(queries, "id", corpus, "id", "vec", k))
    val got = rows(SimilaritySearch.bruteForceTopKHeap(
      queries, "id", corpus, "id", "vec", k))
    assert(got === want, clue)
  }

  /** Both id types, k from 1 past the corpus size, and the corpus in
    * one partition and in three (so the per-query merge sees several
    * partial lists). */
  private def sameEverywhere(queries: DataFrame, corpus: DataFrame): Unit = {
    val n = corpus.count().toInt
    for (idType <- Seq("bigint", "string"); parts <- Seq(1, 3);
        k <- Seq(1, 2, n, n + 3).distinct) {
      val c = corpus.withColumn("id", col("id").cast(idType))
        .repartition(parts)
      same(queries, c, k, s"ids $idType, $parts partitions, k=$k")
    }
  }

  private def vecs(seed: Long, n: Int, dim: Int): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rng.nextGaussian()))
  }

  test("random vectors: the kernel gives the reference rows bit for bit") {
    import spark.implicits._
    val corpus = vecs(1, 40, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    // 6 queries: one block of four plus two on their own
    val queries = vecs(2, 6, 16).zipWithIndex
      .map { case (v, i) => (100L + i, v) }.toDF("id", "vec")
    sameEverywhere(queries, corpus)
  }

  test("the embeddings testdata: FLOAT vectors, BIGINT and INT ids") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 9)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    for (k <- Seq(1, 7)) same(queries, corpus, k, s"k=$k")
    same(queries.withColumn("id", col("id").cast("int")),
      corpus.withColumn("id", col("id").cast("int")), 4, "INT ids")
  }

  test("tied scores break on the id, as the reference does") {
    import spark.implicits._
    // four copies of each of three directions: every score ties with
    // three others
    val dirs = Seq(Seq(1.0, 0.0, 0.0), Seq(0.6, 0.8, 0.0), Seq(0.0, 0.0, 2.0))
    val corpus = (0 until 12).map(i => (((i * 7) % 12).toLong, dirs(i % 3)))
      .toDF("id", "vec")
    val queries = Seq((1L, Seq(1.0, 1.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0)))
      .toDF("id", "vec")
    sameEverywhere(queries, corpus)
  }

  test("NaN ranks first and -0.0 ties 0.0, as the reference orders them") {
    import spark.implicits._
    val negZero = Seq(-Double.MinPositiveValue, 4.0)
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(Double.NaN, 1.0)),
      (3L, negZero), (4L, Seq(0.0, 1.0)), (5L, Seq(0.0, -3.0)),
      (6L, Seq(Double.PositiveInfinity, 0.0)), (7L, Seq(-1.0, 0.5)),
      (8L, Seq(Double.NaN, 0.0))).toDF("id", "vec")
    val queries = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    sameEverywhere(queries, corpus)
  }

  test("FLOAT vectors of mismatched lengths fold over min(len) dims") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    def f(n: Int) = Seq.fill(n)(rng.nextFloat() - 0.5f)
    val corpus = Seq(2, 5, 3, 7, 4, 1, 6).zipWithIndex
      .map { case (n, i) => (i.toLong, f(n)) }.toDF("id", "vec")
    // five queries of different lengths: the four-query pass and the
    // single-query tail both meet short and long corpus vectors
    val queries = Seq(4, 6, 2, 7, 3).zipWithIndex
      .map { case (n, i) => (10L + i, f(n)) }.toDF("id", "vec")
    sameEverywhere(queries, corpus)
    // a DOUBLE query block against the FLOAT corpus
    same(queries.withColumn("vec", col("vec").cast("array<double>")),
      corpus, 3, "DOUBLE queries, FLOAT corpus")
  }

  test("NULL vectors are dropped: the reference over the non-NULL rows") {
    import spark.implicits._
    val corpus = Seq((1L, Some(Seq(1.0, 0.0))), (2L, None),
      (3L, Some(Seq(0.5, 0.5))), (4L, Some(Seq(0.0, 1.0))))
      .toDF("id", "vec")
    val queries = Seq((1L, Some(Seq(1.0, 0.2))), (2L, None),
      (3L, Some(Seq(0.1, 1.0)))).toDF("id", "vec")
    val want = rows(reference(queries.filter(col("vec").isNotNull), "id",
      corpus.filter(col("vec").isNotNull), "id", "vec", 4))
    val got = rows(SimilaritySearch.bruteForceTopKHeap(
      queries, "id", corpus, "id", "vec", 4))
    assert(got === want)
    assert(got.map(_._1).distinct === Seq(1L, 3L))
    assert(!got.exists(_._2 == "2"))
    // the replaced formulation could not rank a NULL score at all
    val e = intercept[Exception](
      reference(queries, "id", corpus, "id", "vec", 4).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("NOT_NULL_ASSERT_VIOLATION")), e.toString)
  }

  test("an empty corpus or an empty query set gives no rows") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    val queries = Seq((7L, Seq(1.0, 1.0))).toDF("id", "vec")
    for (idType <- Seq("bigint", "string")) {
      val c = corpus.withColumn("id", col("id").cast(idType))
      same(queries, c.limit(0), 3, s"empty corpus, $idType ids")
      same(queries.limit(0), c, 3, s"empty queries, $idType ids")
    }
    assert(SimilaritySearch.bruteForceTopKHeap(queries, "id",
      corpus.limit(0), "id", "vec", 3).count() === 0)
  }

  test("k must be at least 1") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
    for (k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        SimilaritySearch.bruteForceTopKHeap(df, "id", df, "id", "vec", k))
      assert(e.getMessage.contains(s"k must be >= 1 ($k)"))
    }
  }

  test("payload columns ride through the ranking and break ties after " +
      "the id, as row_number over (score desc, id, payload) does") {
    import spark.implicits._
    // one chunk id in two files, and equal vectors across ids
    val corpus = Seq(("c1", "f2.md", "a", Seq(1.0, 0.0)),
      ("c1", "f1.md", "a", Seq(1.0, 0.0)),
      ("c0", "f3.md", "b", Seq(1.0, 0.0)),
      ("c2", "f1.md", "c", Seq(0.6, 0.8)),
      ("c3", "f4.md", "d", Seq(0.0, 1.0)),
      ("c1", "f1.md", "e", Seq(0.6, 0.8)))
      .toDF("id", "file", "text", "vec").repartition(3)
    val queries = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.9)))
      .toDF("id", "vec")
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score"), col("cid"), col("file"), col("text"))
    for (k <- 1 to 6) {
      val want = corpus.crossJoin(queries.select(col("id").as("qid"),
          col("vec").as("qvec")))
        .select(col("qid"), col("id").as("cid"), col("file"), col("text"),
          (dotF64(col("qvec"), col("vec")) /
            (l2Norm(col("qvec")) * l2Norm(col("vec")))).as("score"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      val got = SimilaritySearch.bruteForceTopKRows(queries, "id", corpus,
        "id", "vec", Seq("file", "text"), k)
      assert(got.columns.toSeq ===
        Seq("qid", "cid", "file", "text", "score", "rnk"))
      def all(df: DataFrame) = df.select("qid", "cid", "file", "text",
          "score", "rnk").collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).asInstanceOf[Long], r(5).asInstanceOf[Int]))
      assert(all(got) === all(want), s"k=$k")
    }
  }

  test("the packed query block is refused past 1 GiB, naming rows and dim") {
    import SimilaritySearch.{MaxCellTableBytes, requireQueryBlockFits}
    val e = intercept[IllegalArgumentException](
      requireQueryBlockFits(262144, 1024))
    assert(e.getMessage.contains("rows = 262144") &&
      e.getMessage.contains("dim = 1024"), e.getMessage)
    requireQueryBlockFits(200, 1024)
    requireQueryBlockFits(0, 0)
    // exactly the cap passes, one more dimension does not
    assert(BigInt(1024) * (131070 + 2) * 8 === BigInt(MaxCellTableBytes))
    requireQueryBlockFits(1024, 131070)
    intercept[IllegalArgumentException](requireQueryBlockFits(1024, 131071))
    intercept[IllegalArgumentException](
      requireQueryBlockFits(Long.MaxValue, Long.MaxValue))
  }
}
