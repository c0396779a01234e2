package graft.streaming

import graft.SparkTestBase
import graft.operators.{Embed, Ingest}
import org.apache.spark.sql.functions._

/** End-to-end streaming ingest (§3.2): file source → chunk → barrier
  * → embed → index append must produce EXACTLY the rows the batch
  * path produces on the same fixture files. */
class StreamingIngestSpec extends SparkTestBase {

  private def writeFixtures(dir: java.nio.file.Path): Unit = {
    val docs = Seq(
      "a.md" ->
        """---
          |title: alpha
          |---
          |# Alpha
          |intro text for alpha
          |### [INTERNAL_PAGE_2]
          |page two content with several words
          |""".stripMargin,
      "b.md" -> ("# Beta\n" +
        (1 to 600).map(i => s"tok$i").mkString(" ") + "\n"),
      "c.md" -> "plain body without any headers at all\n")
    docs.foreach { case (name, text) =>
      java.nio.file.Files.writeString(dir.resolve(name), text)
    }
  }

  test("streamed index equals the batch ingest output on the same " +
      "fixture (consumer_worker.py:63-97 semantics)") {
    withTempDir("graft_stream") { tmp =>
      val staging = tmp.resolve("staging")
      java.nio.file.Files.createDirectory(staging)
      writeFixtures(staging)
      val indexDir = tmp.resolve("index").toString
      val ckpt = tmp.resolve("ckpt").toString

      val q = StreamingIngest.start(spark, staging.toString, indexDir,
        ckpt, withTimeout = false)
      q.awaitTermination(120000)

      val svc = new Embed.HashEmbeddingService(32)
      val batchDocs = spark.read.format("text")
        .option("wholetext", "true").load(staging.toString)
        .select(col("_metadata.file_name").as("source_file"),
          col("value").as("text"))
      val expected = Embed.embedText(
        Ingest.ingestMarkdown(batchDocs), "chunk", "embedding", svc,
        prefix = "")
      val got = spark.read.parquet(indexDir)
        .drop("doc_bucket", "ingested_at")

      assert(got.count() === expected.count())
      assert(got.count() > 3) // b.md sub-splits into several chunks
      def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] = {
        val cols = df.columns.sorted.map(col).toSeq
        df.select(to_json(struct(cols: _*))).collect()
          .map(_.getString(0)).toSet
      }
      assert(rowSet(got) === rowSet(expected))
    }
  }

  test("fileCompleteness: the lifecycle reporting view over the " +
      "streaming sink shows every file complete, duplicate-free, " +
      "and landed in one visibility window (r6)") {
    withTempDir("graft_stream_fc") { tmp =>
      val staging = tmp.resolve("staging")
      java.nio.file.Files.createDirectory(staging)
      writeFixtures(staging)
      val indexDir = tmp.resolve("index").toString
      val ckpt = tmp.resolve("ckpt").toString
      val q = StreamingIngest.start(spark, staging.toString, indexDir,
        ckpt, withTimeout = false)
      q.awaitTermination(120000)
      val report = StreamingIngest
        .fileCompleteness(spark.read.parquet(indexDir))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(report.keySet === Set("a.md", "b.md", "c.md"))
      report.values.foreach { r =>
        assert(r.getBoolean(3), s"incomplete: $r") // complete
        assert(r.getLong(4) === 0L, s"dup chunks: $r") // n_dup_chunks
        assert(r.getLong(1) === r.getLong(2)) // n_chunks == expected
        // barrier atomicity: a file's chunks are stamped within one
        // visibility commit — the window must be (near-)zero, far
        // below any cross-batch gap
        assert(!r.isNullAt(7) && r.getDouble(7) <= 5.0,
          s"ingest window too wide: $r")
      }
      assert(report("b.md").getLong(1) > 1) // b.md really sub-split
    }
  }

  test("chunkRowBarrier holds partial files and emits complete ones " +
      "atomically in chunk order") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamingOps.ChunkRowEvent]
    val q = StreamingOps.completeChunkRows(input.toDS(),
        withTimeout = false)
      .writeStream.format("memory").queryName("rowbarrier_out")
      .outputMode("append").start()
    input.addData(
      StreamingOps.ChunkRowEvent("a.md", 1, 3, "a1"),
      StreamingOps.ChunkRowEvent("a.md", 0, 3, "a0"),
      StreamingOps.ChunkRowEvent("b.md", 0, 1, "b0"))
    q.processAllAvailable()
    val afterFirst = spark.table("rowbarrier_out").collect()
    assert(afterFirst.map(_.getString(0)).toSeq === Seq("b.md"))
    input.addData(StreamingOps.ChunkRowEvent("a.md", 2, 3, "a2"))
    q.processAllAvailable()
    val rows = spark.table("rowbarrier_out")
      .filter(col("sourceFile") === "a.md").collect()
    assert(rows.length === 1)
    assert(rows(0).getSeq[String](1) === Seq("a0", "a1", "a2"))
    q.stop()
  }
}
