package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Fingerprint-guarded artifact cache: build-once/serve-many, value
  * equality through the parquet round-trip, rebuild on a changed
  * fingerprint, and metadata-only content fingerprints that move when
  * the input files do. */
class ModelArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  test("cached builds exactly once per (name, fingerprint), serves " +
      "value-identical rows, and rebuilds under a new fingerprint") {
    var builds = 0
    def make() = { builds += 1; Seq((1L, 0.5), (2L, -0.25))
      .toDF("id", "w") }
    val a = ModelArtifacts.cached(spark, "spec_art", "fp1")(make())
    val b = ModelArtifacts.cached(spark, "spec_art", "fp1")(make())
    assert(builds === 1, "second call must serve, not rebuild")
    assert(a.orderBy("id").collect().toSeq ===
      b.orderBy("id").collect().toSeq)
    assert(a.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 0.5), (2L, -0.25)))
    ModelArtifacts.cached(spark, "spec_art", "fp2")(make())
    assert(builds === 2, "a changed fingerprint is a new artifact")
    // fp1 was SERVED this session, so the fp2 build must NOT drop it
    // (alternating datasets under one name never thrash each other)
    val again = ModelArtifacts.cached(spark, "spec_art", "fp1")(make())
    assert(builds === 2 && again.count() === 2,
      "live fingerprints survive sibling rebuilds")
  }

  test("cached drops STALE same-name siblings (unserved hash, past " +
      "the age lease) on rebuild, but never a different artifact " +
      "whose name merely extends this one, and never a FRESH " +
      "sibling under the default lease (shared-warehouse safety)") {
    // simulate a previous session's leftover: a sibling hash this
    // JVM never served, plus a name-extension artifact
    Seq((1L, 1.0)).toDF("id", "w").write.format("parquet")
      .saveAsTable("graft_art_spec_stale_deadbeef")
    ModelArtifacts.cached(spark, "spec_stale_sub", "x")(
      Seq((9L, 9.0)).toDF("id", "w"))
    // under the DEFAULT 24 h lease the just-written sibling is too
    // young to drop — a concurrent session's live build must survive
    ModelArtifacts.cached(spark, "spec_stale", "fresh")(
      Seq((2L, 2.0)).toDF("id", "w"))
    val liveFresh = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_art_spec_stale")).sorted
    assert(liveFresh.contains("graft_art_spec_stale_deadbeef"),
      s"young sibling must survive the default lease: " +
        s"${liveFresh.toSeq}")
    // age 0 = single-session eager reclaim: now it drops
    spark.conf.set("spark.graft.artifactDropAgeMs", "0")
    try {
      ModelArtifacts.cached(spark, "spec_stale", "fresh2")(
        Seq((3L, 3.0)).toDF("id", "w"))
      val live = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_art_spec_stale")).sorted
      assert(!live.contains("graft_art_spec_stale_deadbeef"),
        s"stale unserved sibling must drop at age 0: ${live.toSeq}")
      assert(live.exists(_.startsWith("graft_art_spec_stale_sub_")),
        s"name-extension artifact must survive: ${live.toSeq}")
    } finally spark.conf.unset("spark.graft.artifactDropAgeMs")
  }

  test("cached rejects non-identifier names (table-name safety)") {
    intercept[IllegalArgumentException] {
      ModelArtifacts.cached(spark, "Bad Name!", "x")(
        Seq(1).toDF("a"))
    }
  }

  test("contentFingerprint is metadata-only and moves when a file's " +
      "bytes (length) or set membership change") {
    withTempDir("graft_fp") { d =>
      val dir = d.toString
      val f = Paths.get(dir, "part.parquet")
      Files.writeString(f, "aaaa")
      val fp1 = ModelArtifacts.contentFingerprint(spark, dir,
        Seq("part.parquet"))
      val fp1b = ModelArtifacts.contentFingerprint(spark, dir,
        Seq("part.parquet"))
      assert(fp1 === fp1b, "stable under re-listing")
      Files.writeString(f, "aaaabbbb") // longer -> new length
      val fp2 = ModelArtifacts.contentFingerprint(spark, dir,
        Seq("part.parquet"))
      assert(fp1 !== fp2, "length change must change the fingerprint")
    }
  }
}
