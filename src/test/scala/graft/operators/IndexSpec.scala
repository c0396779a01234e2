package graft.operators

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.{Graft, SparkTestBase}
import graft.io.PosixLocalFileSystem
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
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
    withTempDir("idx") { d =>
      val dir = d.toString
      Index.write(Index.buildPoints(chunks), dir, buckets = 4)
      assert(Index.count(spark, dir) === 3)
    }
  }

  /** The command lines of the processes the JVM starts while `body`
    * runs (JFR's `jdk.ProcessStart`). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val f = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(e => s"${e.getThread("eventThread").getJavaName}: " +
            e.getString("command"))
      } finally Files.delete(f)
    } finally rec.close()
  }

  private def children(dir: NioPath): Seq[NioPath] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("writeIndex forks no process and writes one part file per " +
      "bucket, with Hadoop's modes and the built points") {
    import spark.implicits._
    val many = (0 until 400).map(i => (f"DOC_M_$i%08d", s"f${i % 7}.md",
        "markdown", "graft", s"h$i", i, "1", s"passage: [DOC_M] $i",
        Array.tabulate(8)(j => math.sin(i * 8.0 + j))))
      .toDF("chunk_id", "source_file", "type", "engine", "hash",
        "chunk_index", "page", "chunk", "embedding")
      .repartition(4)
    withTempDir("idx") { tmp =>
      val dir = tmp.resolve("index")
      // processes started on the index's files (Spark's heartbeater
      // forks `getconf PAGESIZE` once per JVM, at a time of its own)
      val starts = processStarts(Graft.writeIndex(many, dir.toString))
        .filter(_.contains(dir.toString))
      assert(starts.isEmpty, s"${starts.size} process starts: " +
        starts.take(3).mkString("; "))

      val buckets = children(dir).filter(Files.isDirectory(_))
      assert(buckets.map(_.getFileName.toString).toSet ===
        (0 until 64).map(b => s"bucket=$b").toSet)
      buckets.foreach { b =>
        val parts = children(b).map(_.getFileName.toString)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        assert(parts.size === 1, s"$b holds $parts")
      }
      // modes set through setPermission: Hadoop's 0666/0777 under its
      // 022 umask (checksum files take the process umask and are left
      // out)
      val walk = Files.walk(dir)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.filter(Files.isDirectory(_)).foreach(d =>
        assert(mode(d) === "rwxr-xr-x", d))
      all.filterNot(p => Files.isDirectory(p) ||
          p.getFileName.toString.endsWith(".crc"))
        .foreach(f => assert(mode(f) === "rw-r--r--", f))

      val back = spark.read.parquet(dir.toString)
      assert(back.filter(col("bucket") =!=
        pmod(xxhash64(col("point_id")), lit(64))).count() === 0)
      val want = Index.buildPoints(many)
      val got = back.select(want.columns.map(col).toSeq: _*)
      assert(got.count() === 400)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("PosixLocalFileSystem is the session's file: filesystem; a " +
      "mode above 0777 keeps Hadoop's own path") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf)
      .isInstanceOf[PosixLocalFileSystem])
    val fs = new PosixLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), conf)
    val d = Files.createTempDirectory("modes")
    try {
      fs.setPermission(new Path(d.toUri), new FsPermission(octal("750")))
      assert(mode(d) === "rwxr-x---")
      // NIO cannot set the sticky bit: 01777 must reach chmod
      fs.setPermission(new Path(d.toUri), new FsPermission(octal("1777")))
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] &
        octal("7777")) === octal("1777"))
    } finally {
      fs.close()
      Files.delete(d)
    }
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