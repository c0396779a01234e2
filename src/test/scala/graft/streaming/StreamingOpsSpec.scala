package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import StreamingOps._

/** Streaming semantics driven through real Structured Streaming
  * micro-batches via MemoryStream (SURVEY §2.13: sentinel barrier +
  * session TTL/cap). */
class StreamingOpsSpec extends SparkTestBase {

  test("file barrier: emits only when expected count reached (J2)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ChunkEvent]
    val q = completeFiles(input.toDS(), withTimeout = false)
      .writeStream.format("memory").queryName("barrier_out")
      .outputMode("append").start()

    // file A: 2 of 3 chunks + sentinel -> incomplete, nothing emitted
    input.addData(
      ChunkEvent("a.md", "a_c0", 0, -1),
      ChunkEvent("a.md", "a_c1", 1, -1),
      ChunkEvent("a.md", "", -1, 3),
      // file B: complete in one batch
      ChunkEvent("b.md", "b_c1", 1, -1),
      ChunkEvent("b.md", "b_c0", 0, -1),
      ChunkEvent("b.md", "", -1, 2))
    q.processAllAvailable()
    val afterBatch1 = spark.table("barrier_out").as[FileBatch].collect()
    assert(afterBatch1.map(_.sourceFile).toSeq === Seq("b.md"))
    // chunk order restored by index despite arrival order (W2)
    assert(afterBatch1.head.chunkIds === Seq("b_c0", "b_c1"))

    // file A's last chunk arrives in a later micro-batch -> emitted
    input.addData(ChunkEvent("a.md", "a_c2", 2, -1))
    q.processAllAvailable()
    val afterBatch2 = spark.table("barrier_out").as[FileBatch].collect()
    assert(afterBatch2.map(_.sourceFile).sorted.toSeq
      === Seq("a.md", "b.md"))
    assert(afterBatch2.find(_.sourceFile == "a.md").get.chunkIds
      === Seq("a_c0", "a_c1", "a_c2"))
    q.stop()
  }

  test("sessions: turn capping at 2x20 entries (R5/T5)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Turn]
    val q = sessions(input.toDS(), withTimeout = false)
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()

    val turns = (1 to 50).flatMap(i => Seq(
      Turn("s1", "user", s"q$i", i * 2L),
      Turn("s1", "assistant", s"a$i", i * 2L + 1)))
    input.addData(turns: _*)
    input.addData(Turn("s2", "user", "hello", 1L))
    q.processAllAvailable()
    val states = spark.table("session_out").as[SessionState].collect()
      .groupBy(_.sessionId).map { case (k, v) => k -> v.last }

    // s1 got 100 entries but keeps only the newest 40 (2 x 20 turns)
    assert(states("s1").nTurns === 40)
    assert(states("s1").turns.last === ("assistant", "a50"))
    assert(states("s1").turns.head === ("user", "q31"))
    assert(states("s2").nTurns === 1)
    q.stop()
  }

  test("file barrier state times out partial buffers (CHUNK_TIMEOUT)") {
    // State-function level: a timed-out partial buffer is discarded
    // without emitting (`consumer_worker.py:46-52`); a fresh buffer
    // without sentinel is held back. (ProcessingTimeTimeout runs
    // continuous micro-batches, so wall-clock e2e is not test-able
    // synchronously — see completeFiles scaladoc.)
    val buffering = new TestGroupState[StreamingOps.FileBuffer](
      None, timedOut = false)
    val out = StreamingOps.fileBarrier(withTimeout = true)("x.md",
      Iterator(ChunkEvent("x.md", "x_c0", 0, -1)), buffering)
    assert(out.isEmpty) // no sentinel yet -> buffered, not emitted
    assert(buffering.exists)

    val timedOut = new TestGroupState[StreamingOps.FileBuffer](
      buffering.getOption, timedOut = true)
    val dropped = StreamingOps.fileBarrier(withTimeout = true)("x.md",
      Iterator.empty, timedOut)
    assert(dropped.isEmpty && !timedOut.exists) // partial state purged
  }

  test("session state times out after TTL (24h idle)") {
    val live = new TestGroupState[StreamingOps.SessionState](
      None, timedOut = false)
    val first = StreamingOps.sessionUpdate(withTimeout = true)("s9",
      Iterator(Turn("s9", "user", "hi", 1L)), live).toSeq
    assert(first.head.nTurns === 1)
    val expired = new TestGroupState[StreamingOps.SessionState](
      live.getOption, timedOut = true)
    val out = StreamingOps.sessionUpdate(withTimeout = true)("s9",
      Iterator.empty, expired)
    assert(out.isEmpty && !expired.exists)
  }

  test("readStream windowed aggregation matches the batch result") {
    import org.apache.spark.sql.functions._
    // stage events.parquet alone in a dir (file source streams a dir)
    withTempDir("evstream") { dir =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        dir.resolve("events.parquet"))
      val raw = spark.read.parquet(dir.toString)
      // legacy testdata carried ts as nanos-as-long; current testdata
      // is already timestamp[us] — mirror Tables.events' handling
      val toTs = (df: org.apache.spark.sql.DataFrame) =>
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => df
        }
      val agg = (df: org.apache.spark.sql.DataFrame) =>
        toTs(df)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val q = agg(spark.readStream.schema(raw.schema).parquet(dir.toString))
        .writeStream.format("memory").queryName("win_out")
        .outputMode("complete").start()
      q.processAllAvailable()
      val streamed = spark.table("win_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      q.stop()
      val batch = agg(raw).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  /** Minimal GroupState stub for direct state-function tests. */
  private class TestGroupState[S](initial: Option[S],
      timedOut: Boolean)
      extends org.apache.spark.sql.streaming.GroupState[S] {
    private var cur: Option[S] = initial
    private var removed = false
    def exists: Boolean = cur.isDefined
    def get: S = cur.get
    def getOption: Option[S] = cur
    def update(s: S): Unit = { cur = Some(s) }
    def remove(): Unit = { cur = None; removed = true }
    def hasTimedOut: Boolean = timedOut
    def setTimeoutDuration(d: Long): Unit = {}
    def setTimeoutDuration(d: String): Unit = {}
    def setTimeoutTimestamp(t: Long): Unit = {}
    def setTimeoutTimestamp(t: Long, add: String): Unit = {}
    def setTimeoutTimestamp(t: java.sql.Date): Unit = {}
    def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = {}
    def getCurrentWatermarkMs(): Long = 0L
    def getCurrentProcessingTimeMs(): Long = 0L
  }
}
