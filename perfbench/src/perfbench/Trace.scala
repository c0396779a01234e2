package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into one layer, or the operation that
  * encloses those calls. Times are epoch milliseconds (fractional). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, var end: Double = Double.NaN)

/** Storage-pool accounting: bytes the block managers hold in memory,
  * as the block-manager master reports them, read on every block
  * update and whenever [[sample]] is called. Removals of whole RDDs
  * post no block update, so callers sample at the start of every
  * interval they ask [[peak]] about. Registered on every run, traced or
  * not. */
final class StoragePool(sc: SparkContext) extends SparkListener {
  private val timeline = mutable.ArrayBuffer.empty[(Double, Long)]

  def sample(): Unit = {
    val used = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    synchronized(timeline += ((Clock.nowMs, used)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = sample()

  /** Peak bytes held at any sample in [from, to]. */
  def peak(from: Double, to: Double): Long = synchronized {
    timeline.iterator.collect { case (t, b) if t >= from && t <= to => b }
      .foldLeft(0L)(math.max)
  }
}

/** Epoch-millisecond clock with nanosecond steps, shared by spans and
  * listener callbacks. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-span Spark accounting: each job is attributed to the span whose
  * job group was set when it was submitted, and each task to its
  * stage's job. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  }
  val bySpan = mutable.HashMap.empty[Int, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Double)]

  private def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(Tracer.GroupPrefix))
      .flatMap(g => g.stripPrefix(Tracer.GroupPrefix).toIntOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .map(_.getProperty(Tracer.JobGroupKey)).orNull
    spanOf(group).foreach { s =>
      bySpan.getOrElseUpdate(s, new Acc).jobs += 1
      jobStart(e.jobId) = (s, e.time.toDouble)
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      bySpan(s).jobIntervals += ((t0, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(s, new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Span recorder for the traced run. Spans are opened only around the
  * benchmark's own calls into the program's public API; each sets a
  * Spark job group so the [[LayerListener]] can attribute work. With
  * tracing off, or outside the measured window, [[span]] runs its body
  * and records nothing. Spans stay in memory until [[write]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean,
    val pool: StoragePool) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new LayerListener
  private var stack: List[Span] = Nil
  /** The operation (request, call, pass, build) now running; 0 outside
    * the measured window, where nothing is recorded. */
  @volatile var op = 0
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled || op == 0) body
    else {
      pool.sample()
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        op, Clock.nowMs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      try body
      finally {
        pool.sample()
        s.end = Clock.nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Time a span covers minus the parts its child spans cover. */
  private def selfIntervals(s: Span): Seq[(Double, Double)] = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
    Tracer.subtract(Seq((s.start, s.end)), kids.toSeq)
  }

  /** Per-layer metrics, additive ones averaged per operation. */
  def layerMetrics(layers: Seq[String], ops: Int,
      kmeansIters: Int): Seq[(String, Double, String)] = {
    val per = math.max(ops, 1).toDouble
    layers.flatMap { layer =>
      val ss = spans.filter(_.name == layer).toSeq
      val accs = ss.flatMap(s => listener.synchronized(
        listener.bySpan.get(s.id)))
      def sumL(f: listener.Acc => Long) = accs.map(f).sum.toDouble
      val selfs = ss.map(s => s -> selfIntervals(s))
      val wall = selfs.map(_._2.map(i => i._2 - i._1).sum).sum / 1000
      val driver = selfs.map { case (s, iv) =>
        val jobs = listener.synchronized(listener.bySpan.get(s.id)
          .map(_.jobIntervals.toSeq).getOrElse(Nil))
        Tracer.subtract(iv, jobs).map(i => i._2 - i._1).sum
      }.sum / 1000
      val peak = ss.map(s => pool.peak(s.start, s.end)).foldLeft(0L)(
        math.max)
      val jobs = sumL(_.jobs)
      Seq(
        (s"$layer.wall_s", wall / per, "s"),
        (s"$layer.driver_s", driver / per, "s"),
        (s"$layer.jobs", jobs / per, "count"),
        (s"$layer.tasks", sumL(_.tasks) / per, "count"),
        (s"$layer.cpu_s", sumL(_.cpuNs) / 1e9 / per, "s"),
        (s"$layer.gc_s", sumL(_.gcMs) / 1e3 / per, "s"),
        (s"$layer.shuffle_mb", sumL(_.shuffleBytes) / Tracer.MB / per, "MB"),
        (s"$layer.spill_mb", sumL(_.spillBytes) / Tracer.MB / per, "MB"),
        (s"$layer.peak_storage_mb", peak / Tracer.MB, "MB")) ++
        (if (layer == "SimilaritySearch.kmeans")
          Seq((s"$layer.jobs_per_iter", jobs / per / kmeansIters, "count"))
        else Nil)
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""op":${s.op},"start_ms":${s.start},"end_ms":${s.end}}"""
  }.mkString("[", ",\n", "]")

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, toJson)
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
  val MB = 1024.0 * 1024.0

  /** Wait until the listener bus has delivered every event posted so
    * far: run a marker job and wait for its end event (listeners on
    * one queue see events in order). */
  def drain(sc: SparkContext): Unit = {
    val group = "perfbench-drain-" + System.nanoTime()
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var job = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(Tracer.JobGroupKey) == group))
          job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == job) done.countDown()
    }
    sc.addSparkListener(marker)
    sc.setJobGroup(group, "drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }

  /** Interval-set difference: `a` minus the union of `b`. */
  def subtract(a: Seq[(Double, Double)],
      b: Seq[(Double, Double)]): Seq[(Double, Double)] =
    b.sortBy(_._1).foldLeft(a) { (acc, cut) =>
      acc.flatMap { case (s, e) =>
        if (cut._2 <= s || cut._1 >= e) Seq((s, e))
        else Seq((s, cut._1), (cut._2, e)).filter(i => i._2 > i._1)
      }
    }
}
