package graft

import graft.operators.NnDescent

/** `Profile` measures production code, so its attribution is pinned
  * here against a real iterative operator: every stage lands on the
  * engine line whose action launched it, and one profile never holds
  * another's stages. */
class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = {
    val r = new scala.util.Random(7)
    (0 until 40).map(i =>
      (i.toLong, Array.fill(8)((i % 4 + r.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** One pass of a 3-round NN-descent build, run and measured as
    * Profile runs the last pass of a query. */
  private def profileKnn(): Seq[Profile.Stage] =
    Profile.measure(spark)(Force.timedPass(spark)(
      NnDescent.knnGraph(emb, "vec_id", "embedding", k = 4, iters = 3)))._2

  test("every SQL stage of an NN-descent build is attributed to an " +
      "engine call site; the round checkpoint is one site with one " +
      "execution per round") {
    val stages = profileKnn()
    val sql = stages.filter(_.execution.isDefined)
    assert(sql.nonEmpty)
    sql.foreach { s =>
      assert(s.site.matches("""\w+ at \w+\.scala:\d+""") &&
        !s.site.contains("CompletableFuture") &&
        !s.site.contains("Spec.scala"), s"stage ${s.id}: ${s.site}")
    }
    val rounds = sql.groupBy(_.site)
      .filter(_._1.startsWith("localCheckpoint at NnDescent.scala:"))
    assert(rounds.size === 1, rounds.keys.mkString("; "))
    assert(rounds.head._2.flatMap(_.execution).distinct.size >= 3)
  }

  test("a profile holds exactly the stages of its own body, even " +
      "when the listener bus lags") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // a slow listener ahead of Profile's on the shared queue: every
    // stage event reaches Profile late, as on a loaded driver
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val slow = new SparkListener {
      override def onStageCompleted(c: SparkListenerStageCompleted)
          : Unit = { Thread.sleep(20); seen.add(c.stageInfo.stageId) }
    }
    def completedDuring(f: => Seq[Profile.Stage])
        : (Seq[Profile.Stage], Set[Int]) = {
      ListenerBridge.drainListeners(sc)
      seen.clear()
      val stages = f
      ListenerBridge.drainListeners(sc)
      (stages, seen.asScala.toSet)
    }
    sc.addSparkListener(slow)
    val ((first, firstIds), (second, secondIds)) =
      try (completedDuring(profileKnn()), completedDuring(profileKnn()))
      finally sc.removeSparkListener(slow)
    assert(first.map(_.id).toSet === firstIds)
    assert(second.map(_.id).toSet === secondIds)
    assert(second.map(_.id).toSet.intersect(firstIds).isEmpty)
  }
}
