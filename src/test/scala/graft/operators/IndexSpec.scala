package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Index build / delete / count semantics (S7, V6-V8, D2). */
class IndexSpec extends SparkTestBase {

  private lazy val chunks = {
    import spark.implicits._
    Seq(
      ("DOC_A_11111111", "f1.md", "markdown", "graft", "h1", 0, "7",
        "passage: [DOC_A] one", Array(1.0f, 0.0f)),
      ("DOC_A_22222222", "f1.md", "markdown", "graft", "h2", 1, "8",
        "passage: [DOC_A] two", Array(0.0f, 1.0f)),
      ("DOC_B_33333333", "f2.md", "markdown", "graft", "h3", 0, "n/a",
        "passage: [DOC_B] three", Array(1.0f, 1.0f)))
      .toDF("chunk_id", "source_file", "type", "engine", "hash",
        "chunk_index", "page", "chunk", "embedding")
  }

  test("buildPoints: deterministic UUIDv5 ids + payload projection") {
    val pts = Index.buildPoints(chunks)
    assert(pts.count() === 3)
    val row = pts.filter(col("id") === "DOC_A_11111111").head()
    assert(row.getAs[String]("point_id")
      === graft.functions.Hashing.uuid5Jvm("DOC_A_11111111"))
    assert(row.getAs[Int]("page") === 7)
    assert(pts.filter(col("id") === "DOC_B_33333333").head()
      .getAs[Int]("page") === -1)
    // idempotent rebuild (D2)
    assert(Index.buildPoints(chunks).select("point_id").collect().toSet
      === pts.select("point_id").collect().toSet)
  }

  test("buildPoints: one point per chunk row — a chunk id two files " +
      "share gives two points, a NULL chunk id none") {
    import spark.implicits._
    val shared = Seq(
      (Some("DOC_S_44444444"), "f1.md", "a", Array(1.0f, 0.0f)),
      (Some("DOC_S_44444444"), "f2.md", "b", Array(0.0f, 1.0f)),
      (None, "f3.md", "c", Array(1.0f, 1.0f)))
      .toDF("chunk_id", "source_file", "chunk", "embedding")
      .select(col("chunk_id"), col("source_file"),
        lit("markdown").as("type"), lit("graft").as("engine"),
        lit("h").as("hash"), lit(0).as("chunk_index"),
        lit("1").as("page"), col("chunk"), col("embedding"))
    val pts = Index.buildPoints(shared)
    assert(pts.columns.toSeq === Seq("id", "source_file", "type",
      "engine", "hash", "chunk_index", "page", "point_id", "chunk",
      "embedding"))
    val rows = pts.orderBy("source_file").collect()
    assert(rows.map(r => (r.getAs[String]("source_file"),
        r.getAs[String]("chunk"))).toSeq ===
      Seq(("f1.md", "a"), ("f2.md", "b")))
    assert(rows.map(_.getAs[String]("point_id")).toSet ===
      Set(graft.functions.Hashing.uuid5Jvm("DOC_S_44444444")))
  }

  test("write + count round-trip through bucketed parquet (S7/V8)") {
    val dir = java.nio.file.Files.createTempDirectory("idx").toString
    Index.write(Index.buildPoints(chunks), dir, buckets = 4)
    assert(Index.count(spark, dir) === 3)
  }

  test("deleteBySourceFile / deleteByIds rebuild semantics (V6/D3)") {
    import spark.implicits._
    val pts = Index.buildPoints(chunks)
    assert(Index.deleteBySourceFile(pts, "f1.md").count() === 1)
    val ids = Seq("DOC_A_11111111").toDF("id")
    assert(Index.deleteByIds(pts, ids, "id").count() === 2)
  }

  test("htmlToText strips tags/entities and collapses space (S4)") {
    import spark.implicits._
    val html = "<html><head><style>p{color:red}</style></head>" +
      "<body><!-- c --><p>Hello &amp; <b>world</b></p>\n\n" +
      "<script>var x=1;</script><p>bye&nbsp;now</p></body></html>"
    val got = Seq(html).toDF("h")
      .select(Ingest.htmlToText(col("h"))).as[String].head()
    assert(got === "Hello & world bye now")
  }

  test("endpoint selection pins per partition; retries back off (C7)") {
    val eps = Seq("http://a", "http://b")
    import spark.implicits._
    val used = spark.sparkContext.parallelize(1 to 8, 4)
      .mapPartitions(it => Iterator.single(
        Endpoints.forPartition(eps))).collect()
    assert(used.toSet === Set("http://a", "http://b"))
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val got = Endpoints.withRetries(attempts = 3, baseMs = 10,
      sleep = slept.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(got === "ok" && calls === 3)
    assert(slept.toSeq === Seq(10L, 20L))
    intercept[RuntimeException] {
      Endpoints.withRetries(attempts = 2, baseMs = 1,
        sleep = _ => ()) { throw new RuntimeException("always") }
    }
  }


  test("bucketed tables join without an exchange on either side " +
      "(co-located chunk-family joins, 100 TB posture)") {
    import spark.implicits._
    val a = (1 to 200).map(i => (s"c$i", s"f${i % 20}", i))
      .toDF("chunk_id", "source_file", "n")
    val b = (1 to 200).map(i => (s"c$i", s"v$i"))
      .toDF("chunk_id", "payload")
    Index.writeBucketedTable(a, "bt_a", "chunk_id", buckets = 8)
    Index.writeBucketedTable(b, "bt_b", "chunk_id", buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bt_a").join(spark.table("bt_b"), "chunk_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
    }
  }
}