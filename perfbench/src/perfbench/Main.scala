package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark entry point: one workload, one run.
  *
  * {{{
  * perfbench.Main --workload <rag|ann> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --work <dir> --cores <n>
  * }}}
  *
  * A run builds a `local[<cores>]` session, times a fixed calibration
  * job, sets the workload up [[SetupRepeats]] times, warms it up, runs
  * operations one after another (a closed loop with one client) until
  * the next one would end past `--seconds`, checks every operation's
  * output, and times the calibration job again. The last stdout line
  * is the result; the line before it carries the calibration times and
  * the workload's own metrics.
  */
object Main {
  val SetupRepeats = 3

  /** Layers, named for the program modules the workloads call. */
  val Layers = Seq("Ingest", "Embed", "Index", "Rag.search",
    "Rag.generate", "Rag.cite", "SimilaritySearch.kmeans",
    "SimilaritySearch.ivf")

  /** Layer metrics beyond the per-span ones, with their units; a
    * workload that does not call the layer reports 0. */
  val LayerSpecific = Seq("Ingest.chunks_out" -> "count",
    "Embed.calls" -> "count", "Embed.texts" -> "count",
    "Embed.retries" -> "count", "Index.points" -> "count",
    "Index.extra_points" -> "count", "Index.output_mb" -> "MB",
    "Rag.search.extra_citations" -> "count",
    "Rag.generate.prompts" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")),
      need("cores").toInt)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** A full collection, then time for Spark's cleaner to drop the
    * blocks of objects it collected. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(SettleMs)
  }
  val SettleMs = 200

  /** A fixed CPU-bound Spark job; its time tracks machine contention. */
  def calibrate(spark: SparkSession): Double = {
    val cores = spark.sparkContext.defaultParallelism
    Workloads.median((1 to 3).map { _ =>
      Workloads.timed {
        spark.range(0L, 4000000L, 1L, cores)
          .selectExpr("sum(hash(id, id * 7))").collect()
      }._1
    })
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    var result: Option[String] = None
    var spark: SparkSession = null
    try {
      val a = parse(argv)
      Files.createDirectories(a.work)
      spark = GraftSession.build(s"local[${a.cores}]", a.cores)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val sc = spark.sparkContext
      val pool = new StoragePool(sc)
      sc.addSparkListener(pool)
      val tracer = new Tracer(sc, a.trace, pool)
      val ctx = new Ctx(spark, a.seed, a.data, a.work, tracer)
      val calibPre = calibrate(spark)
      val w = Workloads(a.workload, ctx)

      val setups = (1 to SetupRepeats).map { r =>
        if (r > 1) w.release()
        Workloads.timed(w.setup())._1
      }
      val warmS = Workloads.timed(w.warmUp())._1
      w.counters.foreach(_._2.reset())
      val setupS = sessionS + Workloads.median(setups) + warmS

      // measured window; every operation starts after a collection, so
      // that blocks earlier ones left for the cleaner are gone and no
      // operation pays for another's garbage
      val ops = mutable.ArrayBuffer.empty[OpRecord[w.Out]]
      val opSpans = mutable.ArrayBuffer.empty[(Double, Double)]
      var failedOps = Set.empty[Int]
      val start = Clock.nowMs
      var i = 0
      def elapsedS = (Clock.nowMs - start) / 1000
      def nextEndsInTime =
        elapsedS + Workloads.median(ops.map(_.seconds).toSeq) <= a.seconds
      while (i == 0 || (if (ops.isEmpty) elapsedS < a.seconds
          else nextEndsInTime)) {
        settle()
        pool.sample()
        val opStart = Clock.nowMs
        tracer.op = i + 1
        try ops += tracer.span("op")(w.op(i))
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] operation $i failed: $e")
            failedOps += i
        }
        pool.sample()
        opSpans += ((opStart, Clock.nowMs))
        i += 1
      }
      if (ops.isEmpty)
        throw new IllegalStateException("no operation succeeded")
      tracer.op = 0
      val end = Clock.nowMs
      Tracer.drain(sc)
      val opPeaksMb = opSpans.map { case (s, e) => pool.peak(s, e) / Tracer.MB }
      val peakMb = opPeaksMb.max

      val (checkS, wrong) = Workloads.timed(w.check(ops.toSeq))
      wrong.toSeq.sortBy(_._1).foreach { case (op, why) =>
        System.err.println(s"[perfbench] operation $op output wrong: $why")
      }
      val attempted = i
      val failed = failedOps.size + wrong.size
      val opsS = ops.map(_.seconds).toSeq
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Workloads.median(opsS) * 1000, "ms"),
        ("indexed_per_s",
          Workloads.median(ops.map(o => o.built / o.buildSeconds).toSeq),
          "1/s"),
        ("queries_per_s",
          Workloads.median(ops.map(o => o.answered / o.querySeconds).toSeq),
          "1/s"),
        ("peak_storage_mb", peakMb, "MB"))
      val own = w.ownMetrics(ops.toSeq) ++ w.counters.map { case (n, acc) =>
        (n, acc.value.toDouble / ops.size, "count")
      }
      val layer =
        if (a.trace) {
          tracer.write(a.work.resolve("spans.json"))
          val known = own.map(m => m._1 -> m._2).toMap
          tracer.layerMetrics(Layers, ops.size, AnnWorkload.Iters) ++
            LayerSpecific.map { case (n, u) => (n, known.getOrElse(n, 0.0), u) }
        } else Nil
      val calibPost = calibrate(spark)
      val side = s"""{"perfbench":{"workload":"${a.workload}",""" +
        s""""seed":${a.seed},"trace":${a.trace},"operations":${ops.size},""" +
        s""""calib_pre_s":${num(calibPre)},"calib_post_s":${num(calibPost)},""" +
        s""""session_s":${num(sessionS)},"warm_up_s":${num(warmS)},""" +
        s""""setup_repeats_s":${setups.map(num).mkString("[", ",", "]")},""" +
        s""""window_s":${num((end - start) / 1000)},"check_s":${num(checkS)},""" +
        s""""op_s":${opsS.map(num).mkString("[", ",", "]")},""" +
        s""""build_s":${ops.map(o => num(o.buildSeconds)).mkString("[", ",", "]")},""" +
        s""""query_s":${ops.map(o => num(o.querySeconds)).mkString("[", ",", "]")},""" +
        s""""peak_storage_mb":${opPeaksMb.map(num).mkString("[", ",", "]")},""" +
        s""""end_to_end":${metricsJson(e2e)},""" +
        s""""workload_metrics":${metricsJson(own)}}}"""
      println(side)
      val reported = if (a.trace) layer else e2e
      result = Some(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":${metricsJson(reported)}}""")
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      if (spark != null)
        try spark.stop()
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] spark.stop failed: $e") }
    }
    result.foreach(println)
    System.out.flush()
    sys.exit(if (result.isDefined) 0 else 1)
  }
}
