package graft.plans

import graft.SparkTestBase
import graft.operators.TopK

/** Pins the ObjectHashAggregate fallback-threshold decision (r14
  * advice / r15 verdict item 5): the raised session threshold is
  * justified by the TopK aggregators' buffers being SIZE-BOUNDED by
  * construction — this spec makes both halves of that argument
  * machine-checked, so a future change that un-bounds a buffer or
  * silently drops the conf shows up as a red test, not an OOM at
  * sf10.
  */
class AggThresholdSpec extends SparkTestBase {

  test("session sets the ObjectHashAggregate fallback threshold " +
      "(the TopK operator-choice setting, GraftSession rationale)") {
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      === "65536")
  }

  test("TopK buffers are k-bounded primitive arrays regardless of " +
      "stream size (the argument that makes 64Ki in-flight buffers " +
      "safe: <= ~25 MB/task at k=24)") {
    val k = 24
    val agg = new TopK.TopKAgg(k, dedup = true)
    var buf = agg.zero
    // feed far more candidates than k, with duplicate ids (the
    // NN-descent stream shape) — the buffer must never grow past k
    var i = 0L
    while (i < 10000L) {
      buf = agg.reduce(buf, TopK.Scored(i % 1000L,
        ((i * 31) % 101).toDouble / 101.0))
      i += 1
    }
    assert(buf.scores.length === k && buf.ids.length === k)
    assert(buf.n === k)
    val out = agg.finish(buf)
    assert(out.size === k)
    // best-first, distinct ids
    assert(out.map(_.id).distinct.size === k)
    assert(out.sliding(2).forall { case Seq(a, b) =>
      a.score > b.score || (a.score == b.score && a.id < b.id) })
  }
}
