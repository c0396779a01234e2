package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** R5 sessions as a continuous query (§2.13): turn files → keyed
  * state → snapshot appends, with state surviving a query restart via
  * the checkpoint, and the final history equal to the batch
  * computation over all turns. */
class StreamingSessionsSpec extends SparkTestBase {

  private def turnLine(s: String, role: String, c: String, ts: Long) =
    s"""{"sessionId":"$s","role":"$role","content":"$c","ts":$ts}"""

  test("streamed session state accumulates across separate runs and " +
      "matches the batch history with the 2x20 cap " +
      "(chat_session_service.py:13-62)") {
    withTempDir("graft_sessions") { tmp =>
      val turns = tmp.resolve("turns"); java.nio.file.Files.createDirectory(turns)
      val out = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val cap = 2 * StreamingOps.MaxSessionTurns

      // wave 1: 30 turns for s1 (under the cap), 2 for s2
      val wave1 = ((0 until 30).map(i =>
        turnLine("s1", if (i % 2 == 0) "user" else "assistant", s"m$i", i))
        ++ Seq(turnLine("s2", "user", "hi", 0),
          turnLine("s2", "assistant", "hello", 1))).mkString("\n")
      java.nio.file.Files.writeString(turns.resolve("wave1.json"), wave1)
      StreamingSessions.start(spark, turns.toString, out, ckpt,
        withTimeout = false).awaitTermination(120000)

      // wave 2, separate run: 25 more s1 turns → total 55, capped to 40;
      // the kept window spans both runs, so the checkpointed state must
      // have survived the restart
      val wave2 = (30 until 55).map(i =>
        turnLine("s1", if (i % 2 == 0) "user" else "assistant", s"m$i", i))
        .mkString("\n")
      java.nio.file.Files.writeString(turns.resolve("wave2.json"), wave2)
      StreamingSessions.start(spark, turns.toString, out, ckpt,
        withTimeout = false).awaitTermination(120000)

      val snaps = spark.read.parquet(out)
      // one snapshot per touched session per run: s1 twice, s2 once
      assert(snaps.count() === 3)
      val s1Final = snaps.filter(col("sessionId") === "s1")
        .orderBy(desc("nTurns")).head()
      assert(s1Final.getAs[Int]("nTurns") === cap)
      // batch oracle: all 55 turns sorted by ts, keep the newest cap
      val expected = (0 until 55).map(i =>
        (if (i % 2 == 0) "user" else "assistant", s"m$i"))
        .takeRight(cap)
      val got = spark.read.json(
          spark.createDataset(Seq(s1Final.getAs[String]("history")))(
            org.apache.spark.sql.Encoders.STRING))
        .collect().map(r => (r.getAs[String]("_1"), r.getAs[String]("_2")))
      assert(got.toSeq === expected)
      // s2 untouched by wave 2: single snapshot, both turns
      val s2 = snaps.filter(col("sessionId") === "s2").collect()
      assert(s2.length === 1 && s2.head.getAs[Int]("nTurns") === 2)
    }
  }
}
