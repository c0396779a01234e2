package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilaritySearch

/** Segment-level plan dumps for claims whose REGISTERED plans are
  * checkpoint-hidden (r14 verdict item 9): prints `.explain` of the
  * pipeline segments the optimization claims touch — today the IVF
  * k-NN list build (the attachCells assignment segment
  * inside every q305/q329–q332 candidate device, which sits behind
  * the gate's eager checkpoints in the registered plans).
  * Usage: runMain graft.SegExplain [sfDir]
  */
object SegExplain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build("local[4]", 4)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val cents = SimilaritySearch.sampleCentroids(emb, "vec_id",
      "embedding", SimilaritySearch.coarseCellCountScaled(n))
    val l = emb.filter(col("vec_id") % 2 === 0)
    val r = emb.filter(col("vec_id") % 2 === 1)
    println("\n========== seg:ivfKnnLists_corpusAssign2 ==========")
    SimilaritySearch.ivfKnnLists(l, "vec_id", r, "vec_id",
      "embedding", cents, 8, 4, corpusAssign = 2).explain("formatted")
    println("\n========== seg:ivfKnnLists_corpusAssign1 ==========")
    SimilaritySearch.ivfKnnLists(l, "vec_id", r, "vec_id",
      "embedding", cents, 8, 4).explain("formatted")
    spark.stop()
  }
}
