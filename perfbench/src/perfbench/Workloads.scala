package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import graft.{Graft, ScaleBench}
import graft.operators.{Embed, Rag, SimilaritySearch}

/** What a workload needs from the run: the session, its inputs' seed,
  * the tracer and a scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val work: Path, val tracer: Tracer)

/** One measured operation. Every operation builds an index and then
  * queries it: `built` items indexed in `buildSeconds`, then
  * `answered` queries in `querySeconds`; `seconds` is the whole
  * operation. `out` is kept for the output check. Index < 0 marks a
  * warm-up operation. */
final case class OpRecord[O](index: Int, seconds: Double, built: Long,
    buildSeconds: Double, answered: Long, querySeconds: Double, out: O)

/** A closed-loop workload with a single client. */
trait Workload {
  type Out
  /** Build the inputs the operations run on. */
  def setup(): Unit
  /** Drop what [[setup]] built (between set-up repeats). */
  def release(): Unit
  /** Whole operations, untimed, so that codegen and JIT are warm. */
  def warmUp(): Unit
  /** One operation, timed by the workload itself so that keeping its
    * output for the check stays outside the timing. */
  def op(i: Int): OpRecord[Out]
  /** The operations whose output is wrong, with the first reason. */
  def check(ops: Seq[OpRecord[Out]]): Map[Int, String]
  /** The workload's own metrics (name, value, unit), printed beside
    * the end-to-end ones. */
  def ownMetrics(ops: Seq[OpRecord[Out]]): Seq[(String, Double, String)]
  /** Counters the workload's service wrappers keep, by metric name;
    * reset after the warm-up and reported per operation. */
  def counters: Seq[(String, LongAccumulator)] = Nil
}

object Workloads {
  val Names = Seq("rag", "ann")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "rag" => new RagWorkload(ctx)
    case "ann" => new AnnWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(", ")})")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  def treeBytes(p: Path): Long =
    Files.walk(p).filter(f => Files.isRegularFile(f))
      .mapToLong(f => Files.size(f)).sum()

  /** Unpersist every RDD persisted after `before` (the operation's own
    * intermediate blocks), so one operation's storage does not carry
    * into the next. */
  def freeSince(spark: SparkSession, before: Int): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (id > before) rdd.unpersist(blocking = true)
    }

  def lastRddId(spark: SparkSession): Int =
    (spark.sparkContext.getPersistentRDDs.keys.toSeq :+ -1).max

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** Counts calls, texts and failures of the embedding service; the
  * counters are Spark accumulators, so tasks report them back. */
final class CountingEmbedder(inner: Embed.EmbeddingService,
    spark: SparkSession) extends Embed.EmbeddingService {
  val calls = spark.sparkContext.longAccumulator("Embed.calls")
  val texts = spark.sparkContext.longAccumulator("Embed.texts")
  val failures = spark.sparkContext.longAccumulator("Embed.retries")
  /** Each failure is retried by the caller's retry loop. */
  def all: Seq[(String, LongAccumulator)] =
    Seq(calls, texts, failures).map(a => a.name.get -> a)
  def embed(batch: Seq[String]): Seq[Array[Double]] = {
    calls.add(1)
    texts.add(batch.size)
    try inner.embed(batch)
    catch { case e: Throwable => failures.add(1); throw e }
  }
}

/** Counts the prompts the generator is given. */
final class CountingGenerator(inner: Rag.Generator, spark: SparkSession)
    extends Rag.Generator {
  val prompts = spark.sparkContext.longAccumulator("Rag.generate.prompts")
  def generate(batch: Seq[String]): Seq[String] = {
    prompts.add(batch.size)
    inner.generate(batch)
  }
}

/** `rag`: the reference's whole path, one staged batch at a time. An
  * operation ingests a batch of markdown files (chunk, embed at 1024
  * dimensions, write the bucketed parquet index), then answers
  * questions about the batch with cited answers (embed the questions,
  * retrieve the top 4 with context, generate, rewrite citations)
  * against the chunks it has just embedded. */
final class RagWorkload(ctx: Ctx) extends Workload {
  import Workloads._
  final case class Answered(qid: Long, question: String,
      sources: Seq[String], context: String, linked: String)
  /** The distinct (chunk_id, chunk) pairs the ingest leg produced, where
    * it wrote its index, the index rows the questions ran against and
    * the answers. */
  final case class Pass(expected: Map[String, String], dir: Path,
      chunks: Long, index: ChunkIndex, asked: Int, answers: Seq[Answered])
  type Out = Pass

  val Dim = 1024
  val K = 4
  val BaseUrl = "http://localhost:8000"
  /** The staged files: four replicas of `documents` (20,000 files) in
    * [[Batches]] batches of 625. A batch's embedded chunks (about 5 MB)
    * stay well below Spark's 10 MB broadcast threshold, so the plans do
    * not flip between batches. */
  val Replicas = 4
  val Parts = 8
  val Batches = Replicas * Parts
  val QuestionsPerOp = 200
  /** Answers per operation checked against the oracle. */
  val CheckedPerOp = 16
  val WarmOps = 3
  private val spark = ctx.spark
  val embedder = new CountingEmbedder(new Embed.HashEmbeddingService(Dim),
    spark)
  val generator = new CountingGenerator(Rag.EchoGenerator, spark)
  /** Answers checked, and the extra citations found in them. */
  private var checked = 0
  private var extraCitations = 0
  override def counters: Seq[(String, LongAccumulator)] =
    embedder.all :+ ("Rag.generate.prompts" -> generator.prompts)

  /** A batch is an eighth of one replica, cut in text order, so files
    * with the same text share a batch, as a re-staged copy of a file
    * would. The rows stay in the driver's memory (a parallelized
    * collection), so the staging read is not timed. */
  private var batches: IndexedSeq[DataFrame] = _
  /** Each batch's questions: the first 64 characters of its files. */
  private var questions: IndexedSeq[IndexedSeq[String]] = _

  def setup(): Unit = {
    val byText = Window.orderBy(col("text"), col("doc_id"))
    val part = spark.read.parquet(s"${ctx.data}/documents.parquet")
      .select(col("doc_id").as("base_id"),
        (ntile(Parts).over(byText) - 1).as("part"))
    val rows = ScaleBench.scaledDocs(spark, ctx.data, Replicas)
      .join(part, pmod(col("doc_id"), lit(1000000L)) === col("base_id"))
      .select(floor(col("doc_id") / 1000000L) * Parts + col("part"),
        concat(lit("doc"), col("doc_id"), lit(".md")), col("text"))
      .collect()
    val schema = StructType(Seq(StructField("source_file", StringType),
      StructField("text", StringType)))
    val sc = spark.sparkContext
    val parts = (0 until Batches).map { b =>
      rows.filter(_.getLong(0) == b)
        .map(r => Row(r.getString(1), r.getString(2)))
        .sortBy(_.getString(0)).toSeq
    }
    batches = parts.map(p => spark.createDataFrame(
      sc.parallelize(p, sc.defaultParallelism), schema))
    questions = parts.map(_.map(_.getString(1).take(64)).toIndexedSeq)
  }
  def release(): Unit = { batches = null; questions = null }

  /** Warm-up operations run on parts 0, 1, … of a replica. */
  def warmUp(): Unit = (0 until WarmOps).foreach { w =>
    deleteTree(run(-1 - w, batchOf(w, ctx.seed + 2)).out.dir)
  }

  /** Operation i runs on part i mod 8 (every run meets the parts in
    * the same order), of a replica the seed and i pick. */
  def batchOf(i: Int, replica: Long): Int =
    Math.floorMod(replica, Replicas.toLong).toInt * Parts +
      Math.floorMod(i, Parts)

  private def local(rows: Array[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(rows.toList.asJava, like.schema)

  def op(i: Int): OpRecord[Pass] = run(i, batchOf(i, ctx.seed + i))

  private def run(i: Int, b: Int): OpRecord[Pass] = {
    val t = ctx.tracer
    val dir = ctx.work.resolve(s"index-$i")
    val asked = new scala.util.Random(ctx.seed * 31 + i)
      .shuffle(questions(b)).take(QuestionsPerOp)
      .zipWithIndex.map { case (q, n) => (n.toLong, q) }
    val before = lastRddId(spark)
    var n = 0L
    import spark.implicits._
    val (buildS, (chunks, embedded)) = timed {
      val chunks = t.span("Ingest") {
        val c = Graft.ingestMarkdown(batches(b))
          .persist(StorageLevel.MEMORY_ONLY)
        n = c.count()
        c
      }
      val embedded = t.span("Embed") {
        val e = Graft.withEmbeddings(chunks, embedder)
          .persist(StorageLevel.MEMORY_ONLY)
        e.count()
        e
      }
      t.span("Index") { Graft.writeIndex(embedded, dir.toString) }
      (chunks, embedded)
    }
    val index = embedded.select("chunk_id", "chunk", "source_file",
      "embedding")
    // the client collects each leg's result and hands it to the next
    // leg as a local frame, as the reference's services do
    val (queryS, cited) = timed {
      val q = asked.toDF("qid", "qtext")
      val qs = t.span("Embed") {
        val df = Graft.embedQueries(q, embedder).select("qid", "embedding")
        local(df.collect(), df)
      }
      val contexts = t.span("Rag.search") {
        val df = Graft.search(index, qs, K)
        local(df.collect(), df)
      }
      val answers = t.span("Rag.generate") {
        val df = Rag.generate(contexts, generator)
        local(df.collect(), df)
      }
      t.span("Rag.cite") {
        Rag.rewriteCitations(answers, BaseUrl)
          .select("qid", "sources", "context", "answer_linked").collect()
      }
    }
    val expected = chunks.select("chunk_id", "chunk").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val idx = {
      val rows = index.as[(String, String, String, Array[Double])].collect()
      ChunkIndex(rows.map(_._1), rows.map(_._2), rows.map(_._3),
        rows.map(_._4))
    }
    freeSince(spark, before)
    val byQid = asked.toMap
    val out = cited.map { r =>
      Answered(r.getLong(0), byQid(r.getLong(0)), r.getSeq[String](1),
        r.getString(2), r.getString(3))
    }.toSeq
    OpRecord(i, buildS + queryS, n, buildS, out.size.toLong, queryS,
      Pass(expected, dir, n, idx, asked.size, out))
  }

  /** The index check: every distinct chunk id is in the written index,
    * with its chunk text and exactly the stub's vector for that text;
    * no point has an id the pass did not produce. Returns the points
    * written, or why the index is wrong. */
  private def checkIndex(p: Pass): Either[String, Long] = {
    val stub = new Embed.HashEmbeddingService(Dim)
    val expected = spark.sparkContext.broadcast(p.expected)
    import spark.implicits._
    // per partition: points, points whose chunk or vector is wrong,
    // and ids seen
    val scanned = spark.read.parquet(p.dir.toString)
      .select(col("id"), col("chunk"), col("embedding"))
      .as[(String, String, Array[Double])]
      .mapPartitions { rows =>
        var points = 0L
        var bad = 0L
        val ids = scala.collection.mutable.HashSet.empty[String]
        rows.foreach { case (id, chunk, v) =>
          points += 1
          ids += id
          if (!expected.value.get(id).contains(chunk) ||
              !java.util.Arrays.equals(v, stub.embed(Seq(chunk)).head))
            bad += 1
        }
        Iterator((points, bad, ids.toArray))
      }.collect()
    expected.destroy()
    val wrong = scanned.map(_._2).sum
    val missing = p.expected.keySet.diff(scanned.flatMap(_._3).toSet).size
    if (wrong > 0) Left(s"$wrong points with a wrong chunk or vector")
    else if (missing > 0) Left(s"$missing chunk ids not indexed")
    else Right(scanned.map(_._1).sum)
  }

  /** Points each checked operation wrote. */
  private val points = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** The index passes [[checkIndex]]; every question got exactly one
    * answer; each of a seeded sample of answers passes
    * [[Oracle.verify]] against the operation's own index. */
  def check(ops: Seq[OpRecord[Pass]]): Map[Int, String] = {
    val stub = new Embed.HashEmbeddingService(Dim)
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    def wrong(p: Pass)(a: Answered): Option[String] =
      Oracle.verify(a.question, a.sources, a.context, a.linked, p.index, K,
        stub, BaseUrl) match {
        case Left(why) => Some(s"question ${a.qid}: $why")
        case Right(extra) => checked += 1; extraCitations += extra; None
      }
    ops.flatMap { o =>
      val p = o.out
      val answers = p.answers
      val why = checkIndex(p) match {
        case Left(why) => Some(why)
        case Right(written) =>
          points += written
          if (answers.map(_.qid).distinct.size != p.asked ||
              answers.size != p.asked)
            Some(s"${answers.size} answers to ${p.asked} questions")
          else rng.shuffle(answers).take(CheckedPerOp).iterator
            .map(wrong(p)).collectFirst { case Some(w) => w }
      }
      why.map(o.index -> _)
    }.toMap
  }

  def ownMetrics(ops: Seq[OpRecord[Pass]]): Seq[(String, Double, String)] = {
    val distinct = ops.map(_.out.expected.size.toDouble)
    val bytes = ops.map(o => treeBytes(o.out.dir).toDouble)
    def perOp(xs: Seq[Double]) = xs.sum / math.max(xs.size, 1)
    Seq(
      ("chunks_per_s", median(ops.map(o => o.built / o.buildSeconds)), "1/s"),
      ("index_bytes_per_chunk", bytes.sum / distinct.sum, "B"),
      ("answer_p50_ms", median(ops.map(_.querySeconds * 1000)), "ms"),
      ("Ingest.chunks_out", perOp(ops.map(_.out.chunks.toDouble)), "count"),
      ("Index.points", perOp(points.map(_.toDouble).toSeq), "count"),
      ("Index.extra_points",
        perOp(points.map(_.toDouble).toSeq) - perOp(distinct), "count"),
      ("Index.output_mb", perOp(bytes) / Tracer.MB, "MB"),
      ("Rag.search.extra_citations",
        extraCitations.toDouble / math.max(checked, 1), "count"))
  }
}

/** `ann`: an operation builds an IVF index (deterministic Lloyd
  * k-means, 64 cells) over the replicated 64-dim embeddings, then
  * probes it for the top 10 of held-out queries taken from a replica
  * the build does not include. */
final class AnnWorkload(ctx: Ctx) extends Workload {
  import Workloads._
  /** (qid, cid, score, rank) */
  type Hit = (Long, Long, Double, Int)
  type Out = Array[Hit]

  import AnnWorkload.Iters
  /** Two replicas of `embeddings`: 4,000 vectors. */
  val AnnReplicas = 2
  val Cells = 64
  val K = 10
  val NProbe = 8
  val Queries = 1000
  val WarmOps = 3
  private val spark = ctx.spark
  private var corpus: DataFrame = _
  private var queries: DataFrame = _
  private var vectors = 0L

  def setup(): Unit = {
    corpus = ScaleBench.scaledEmbeddings(spark, ctx.data, AnnReplicas)
      .persist(StorageLevel.MEMORY_ONLY)
    vectors = corpus.count()
    // replica `AnnReplicas` is the one past the build's: held out
    val heldOut = ScaleBench.scaledEmbeddings(spark, ctx.data,
        AnnReplicas + 1)
      .filter(col("vec_id") >= AnnReplicas * 1000000L)
    val ids = heldOut.select("vec_id").collect().map(_.getLong(0)).sorted
    val picked = new scala.util.Random(ctx.seed).shuffle(ids.toSeq)
      .take(Queries)
    queries = heldOut.filter(col("vec_id").isin(picked: _*))
      .select(col("vec_id").as("qid"), col("embedding"))
      .persist(StorageLevel.MEMORY_ONLY)
    queries.count()
  }
  def release(): Unit = {
    corpus.unpersist(blocking = true)
    queries.unpersist(blocking = true)
  }

  def warmUp(): Unit = (1 to WarmOps).foreach(w => op(-w))

  def op(i: Int): OpRecord[Out] = {
    val t = ctx.tracer
    val before = lastRddId(spark)
    val (buildS, cents) = timed {
      t.span("SimilaritySearch.kmeans") {
        SimilaritySearch.kmeansCentroids(corpus, "vec_id", "embedding",
          Cells, maxIter = Iters)
      }
    }
    val (probeS, rows) = timed {
      t.span("SimilaritySearch.ivf") {
        SimilaritySearch.ivfTopK(queries, "qid", corpus, "vec_id",
          "embedding", cents, K, NProbe).collect()
      }
    }
    freeSince(spark, before)
    val out = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"),
      r.getAs[Double]("score"), r.getAs[Int]("rnk")))
    OpRecord(i, buildS + probeS, vectors, buildS,
      out.map(_._1).distinct.length.toLong, probeS, out)
  }

  private lazy val exact: (Map[Long, Array[Double]], Map[Long, Seq[Long]],
      Array[Long], Array[Array[Double]]) = {
    import spark.implicits._
    def vecs(df: DataFrame, id: String) =
      df.select(col(id), col("embedding").cast("array<double>"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    val c = vecs(corpus, "vec_id")
    val q = vecs(queries, "qid")
    val ids = c.map(_._1)
    val vs = c.map(_._2)
    val norms = vs.map(Oracle.norm)
    val truth = q.map { case (qid, qv) =>
      qid -> Oracle.topK(qv, ids, vs, norms, K).map(ids(_))
    }.toMap
    (q.toMap, truth, ids, vs)
  }

  /** The build is deterministic, so every operation returns the same
    * hits; each query gets at most K distinct hits, ranked 1.. by
    * descending score, and every score is the exact cosine of its
    * pair. */
  def check(ops: Seq[OpRecord[Out]]): Map[Int, String] = {
    val (qv, truth, ids, vs) = exact
    val row = ids.zipWithIndex.toMap
    def exactScore(qid: Long, cid: Long): Option[Double] =
      row.get(cid).map(r => Oracle.dot(qv(qid), vs(r)) /
        (Oracle.norm(qv(qid)) * Oracle.norm(vs(r))))
    def wrong(hs: Seq[(Long, Long, Double, Int)]): Option[String] = {
      val sorted = hs.sortBy(_._4)
      if (sorted.map(_._4) != (1 to sorted.size)) Some("ranks not 1..n")
      else if (sorted.size > K) Some(s"${sorted.size} hits > $K")
      else if (sorted.map(_._2).distinct.size != sorted.size)
        Some("duplicate hits")
      else if (sorted.zip(sorted.drop(1)).exists(p => p._1._3 < p._2._3))
        Some("scores not descending")
      else sorted.collectFirst {
        case (q, c, score, _) if !exactScore(q, c).exists(w =>
            math.abs(w - score) <= 1e-9 * math.max(1.0, math.abs(w))) =>
          s"query $q hit $c: score $score is not its cosine"
      }
    }
    val first = ops.head.out.sorted.toSeq
    ops.flatMap { o =>
      val byQ = o.out.toSeq.groupBy(_._1)
      val why =
        if (o.out.sorted.toSeq != first)
          Some(s"hits differ from operation ${ops.head.index}'s")
        else if (byQ.keySet != truth.keySet)
          Some(s"${byQ.size} of ${truth.size} queries answered")
        else byQ.valuesIterator.map(wrong).collectFirst { case Some(w) => w }
      why.map(o.index -> _)
    }.toMap
  }


  def recall(out: Array[Hit]): Double = {
    val truth = exact._2
    val got = out.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    truth.map { case (q, t) =>
      t.count(got.getOrElse(q, Set.empty[Long])).toDouble / K
    }.sum / truth.size
  }

  def ownMetrics(ops: Seq[OpRecord[Out]]): Seq[(String, Double, String)] =
    Seq(
      ("ann_build_s", median(ops.map(_.buildSeconds)), "s"),
      ("recall_at_10", recall(ops.head.out), "ratio"))
}

object AnnWorkload {
  /** Lloyd iterations per k-means build. */
  val Iters = 2
}
