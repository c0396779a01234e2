package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge
import scala.collection.mutable

/** Per-query drill-down: each named query's formatted plan, three
  * passes timed as Bench times them ([[Force.timedPass]]), and the
  * stages of the last pass grouped by the engine line whose action
  * launched them: the call site Spark records when a SQL execution
  * starts (`localCheckpoint at NnDescent.scala:128`), which also
  * holds for the stages AQE submits from its thread pool. A stage of
  * an RDD-API job has no execution and keeps its own stage name.
  * Usage: runMain graft.Profile <sfDir> <query…> [spark.conf=value…]
  * (`SPARK_GRAFT_CPUS` sizes the session, as for Bench and Verify).
  */
object Profile {

  /** One completed stage: its execution's call site (the stage name
    * when there is no SQL execution) and its task metrics. */
  case class Stage(id: Int, site: String, execution: Option[Long],
      wallMs: Long, cpuMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spillMem: Long, spillDisk: Long, tasks: Int)

  /** `body`'s result and every stage that completed while it ran. The
    * bus is drained before the listener joins (no earlier event
    * reaches it) and before it leaves (none of `body`'s is lost). */
  def measure[T](spark: SparkSession)(body: => T): (T, Seq[Stage]) = {
    val sc = spark.sparkContext
    val sites = mutable.Map[Long, String]()
    val executionOf = mutable.Map[Int, Option[Long]]()
    val stages = mutable.ArrayBuffer[Stage]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites(s.executionId) = s.description
        case _ =>
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted)
          : Unit = executionOf(s.stageInfo.stageId) = Option(s.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong)
      override def onStageCompleted(c: SparkListenerStageCompleted)
          : Unit = {
        val si = c.stageInfo; val m = si.taskMetrics
        val exec = executionOf.remove(si.stageId).flatten
        // no wall unless BOTH timestamps exist
        val wallMs = (for (s <- si.submissionTime; e <- si.completionTime)
          yield e - s).getOrElse(0L)
        stages += Stage(si.stageId,
          exec.flatMap(sites.get).getOrElse(si.name.takeWhile(_ != '\n')),
          exec, wallMs, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.diskBytesSpilled, si.numTasks)
      }
    }
    ListenerBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBridge.drainListeners(sc)
      (r, stages.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private val columns = Seq("wall_ms", "cpu_ms", "gc_ms", "shufR_MB",
    "shufW_MB", "spillMem_MB", "spillDisk_MB", "tasks")

  /** The [[columns]], summed over `ss`. */
  private def cells(ss: Seq[Stage]): Seq[Any] = {
    def mb(f: Stage => Long) = f"${ss.map(f).sum / 1048576.0}%.1f"
    Seq(ss.map(_.wallMs).sum, ss.map(_.cpuMs).sum, ss.map(_.gcMs).sum,
      mb(_.shuffleRead), mb(_.shuffleWrite), mb(_.spillMem),
      mb(_.spillDisk), ss.map(_.tasks).sum)
  }

  /** Every stage, then every call site (slowest first) and the total. */
  def report(stages: Seq[Stage]): String = {
    def line(cs: Seq[Any]) = cs.mkString(" | ")
    def execs(ss: Seq[Stage]) = ss.flatMap(_.execution).distinct.size
    val perStage = stages.sortBy(s => (-s.wallMs, s.id))
      .map(s => line(s.id +: cells(Seq(s)) :+ s.site))
    val perSite = stages.groupBy(_.site).toSeq
      .sortBy { case (site, ss) => (-ss.map(_.wallMs).sum, site) }
      .map { case (site, ss) =>
        line(Seq(execs(ss), ss.size) ++ cells(ss) :+ site) }
    val total = s"TOTAL (${stages.count(_.execution.isDefined)} stages " +
      "in SQL executions)"
    (Seq(line("stage" +: columns :+ "site")) ++ perStage ++
      Seq("", line(Seq("executions", "stages") ++ columns :+ "site")) ++
      perSite :+ line(Seq(execs(stages), stages.size) ++ cells(stages) :+
        total)).mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val (confs, positional) = args.partition(_.contains("="))
    require(positional.length >= 2,
      "usage: graft.Profile <sfDir> <query…> [spark.conf=value…]")
    val sfDir = positional.head
    val names = positional.tail.toSeq
    val queries = SparkEntry.queries
    names.foreach(n => require(queries.contains(n), s"unknown query $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    try {
      confs.map(_.split("=", 2)).foreach(kv => spark.conf.set(kv(0), kv(1)))
      names.foreach { name =>
        def pass(): Double =
          Force.timedPass(spark)(queries(name)(spark, sfDir))
        println(s"\n========== $name ==========")
        queries(name)(spark, sfDir).explain("formatted")
        val first = Seq(pass(), pass())
        val (last, stages) = measure(spark)(pass())
        val secs = first :+ last
        println(secs.map(s => f"$s%.3f").mkString(s"$name passes (s): ",
          ", ", f"; median ${secs.sorted.apply(1)}%.3f; stages of pass 3:"))
        print(report(stages))
      }
    } finally spark.stop()
  }
}
