package graft

import org.apache.spark.sql.functions._

/** Approximate-aggregate surface (SURVEY §2.6 "approx_count_distinct
  * for HLL"): error bounds against exact answers on testdata, plus
  * the partition-pruning property of the bucketed archive sink. */
class SketchSpec extends SparkTestBase {

  test("approx_count_distinct within rsd of exact (HLL)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .head()
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("percentile_approx brackets the exact median") {
    val ev = graft.queries.Tables.events(spark, sf)
    val r = ev.agg(
      median(col("value")).as("exact"),
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx"))
      .head()
    assert(math.abs(r.getDouble(1) - r.getDouble(0))
      <= 0.05 * math.max(1.0, math.abs(r.getDouble(0))))
  }

  test("archive sink: doc_bucket partition filter prunes the scan") {
    import spark.implicits._
    val chunks = Seq(
      ("c1", "DOC_AAAA0001", "one"), ("c2", "DOC_BBBB0002", "two"),
      ("c3", "DOC_CCCC0003", "three"))
      .toDF("chunk_id", "document_id", "chunk")
    withTempDir("arch") { d =>
      val dir = d.toString
      graft.operators.Ingest.writeArchive(chunks, dir, buckets = 8)
      val read = spark.read.parquet(dir)
        .filter(col("doc_bucket") === 3)
      val plan = read.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains("doc_bucket"),
        s"expected partition pruning in:\n$plan")
      // and the data round-trips
      assert(spark.read.parquet(dir).count() === 3)
    }
  }

  test("count-min sketch: estimates are one-sided (≥ true count) " +
      "and within eps·N on the corpus word stream") {
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
    val n = words.count()
    val truth = words.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cms = words.stat.countMinSketch(
      "word", eps = 0.001, confidence = 0.99, seed = 42)
    truth.foreach { case (w, c) =>
      val est = cms.estimateCount(w)
      assert(est >= c, s"CMS under-counted $w: $est < $c")
      assert(est <= c + (0.001 * n).toLong + 1,
        s"CMS error for $w beyond eps*N: $est vs $c (N=$n)")
    }
  }

  test("HLL sketches are MERGEABLE: union of per-day sketches " +
      "equals the whole-corpus sketch exactly (incremental " +
      "cardinality maintenance)") {
    // The 100 TB pattern: sketch each ingest batch once, persist the
    // binary sketch, union to answer "distinct over any window" —
    // never recount. HLL registers are per-bucket maxima, so the
    // union of disjoint partial sketches is IDENTICAL to one pass
    // over everything (same lgK) — exact equality, not approximate.
    val ev = graft.queries.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val unioned = daily
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(false))).as("est"))
      .head().getLong(0)
    val whole = ev
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .head().getLong(0)
    assert(unioned === whole,
      s"union-of-parts must equal single-pass: $unioned vs $whole")
    val exact = ev.select("user_id").distinct().count().toDouble
    assert(math.abs(unioned - exact) / exact < 0.05,
      s"estimate $unioned too far from exact $exact")
  }

  test("quantileRankCheck: detects in-band and out-of-band " +
      "estimates, including the exact band edge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // values 1..1000; eps = 0.01 -> band of ±10 ranks around ceil(q·n)
    val vals = (1 to 1000).map(_.toDouble).toDF("v")
    def check(q: Double, est: Double): Boolean =
      graft.operators.Sketches.quantileRankCheck(vals, "v",
          Seq((q, est, 1000L)).toDF("q", "est", "n"), eps = 0.01)
        .collect().head.getBoolean(2)
    assert(check(0.5, 500.0))           // dead center
    assert(check(0.5, 510.0))           // rank 510 = 500 + 10, edge
    assert(!check(0.5, 511.0))          // one past the band
    assert(check(0.5, 490.0))           // lower edge
    assert(!check(0.5, 489.0))
    assert(check(0.99, 1000.0))         // top quantile, max element
    assert(!check(0.99, 500.0))
    // duplicates widen the occupied rank interval: 500 copies of 1,
    // 500 of 2 -> the value 1 spans ranks [1, 500] and must satisfy
    // q = 0.5 even though its midpoint is far from 500
    val dup = (Seq.fill(500)(1.0) ++ Seq.fill(500)(2.0)).toDF("v")
    val got = graft.operators.Sketches.quantileRankCheck(dup, "v",
        Seq((0.5, 1.0, 1000L)).toDF("q", "est", "n"), eps = 0.01)
      .collect().head.getBoolean(2)
    assert(got)
  }

  test("approx_percentile estimates pass the rank check across " +
      "adversarial distributions (the q314 contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val dists: Seq[(String, Seq[Double])] = Seq(
      ("uniform", (1 to 5000).map(_.toDouble)),
      ("zipf", (1 to 5000).map(i => 5000.0 / i)),
      ("constant", Seq.fill(5000)(7.0)),
      ("two-point", (1 to 5000).map(i => if (i % 10 == 0) 1e9 else 0.0)))
    dists.foreach { case (name, xs) =>
      val df = xs.toDF("v")
      val qArr = qs.map(q => s"${q}D").mkString(", ")
      val ests = df.agg(expr(
          s"approx_percentile(v, array($qArr), 100)").as("es"),
          count(lit(1)).as("n"))
        .select(posexplode(col("es")).as(Seq("qi", "est")), col("n"))
        .select(element_at(array(qs.map(lit): _*), col("qi") + 1)
          .as("q"), col("est"), col("n"))
      val out = graft.operators.Sketches.quantileRankCheck(df, "v",
        ests, eps = 0.01).collect()
      assert(out.length === qs.length)
      assert(out.forall(_.getBoolean(2)),
        s"$name violated the GK bound: ${out.mkString(";")}")
    }
  }

  test("bloom filter: no false negatives, FPP near the configured " +
      "bound (the join-pruning sketch)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val bf = li.stat.bloomFilter("l_orderkey", 10000, 0.03)
    val keys = li.select("l_orderkey").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keys.forall(bf.mightContain), "bloom false negative")
    val absent = (1 to 20000).map(i => 10000000L + i)
      .count(k => bf.mightContain(k))
    assert(absent.toDouble / 20000 < 0.06,
      s"observed FPP ${absent / 20000.0} far above configured 0.03")
  }
}
