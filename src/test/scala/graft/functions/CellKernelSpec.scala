package graft.functions

import graft.SparkTestBase
import graft.operators.SimilaritySearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{dotF64, l2Norm}

/** The r15 per-row top-p cell kernel ([[TopCells]]) must equal the
  * ranked-window formulation it replaced — scores, tie-breaks and the
  * kept set, bit for bit — on real embeddings, tied fixtures, a real
  * -0.0 score, and p larger than the cell count. */
class CellKernelSpec extends SparkTestBase {

  /** The pre-r15 attachCells window form, reconstructed as the
    * in-test oracle. */
  private def windowPicks(df: DataFrame, idC: String, vecCol: String,
      centroids: DataFrame, probes: Int): Set[(Long, Long)] = {
    val cellW = Window.partitionBy(col("_rid")).orderBy(
      desc("_cscore"), col("cell_id"))
    val cn = centroids.withColumn("_cnorm", l2Norm(col("centroid")))
    df.select(col(idC).as("_rid"), col(vecCol).as("_v"))
      .withColumn("_rnorm", l2Norm(col("_v")))
      .crossJoin(broadcast(cn))
      .select(col("_rid"), col("cell_id"),
        (dotF64(col("_v"), col("centroid")) /
          (col("_rnorm") * col("_cnorm"))).as("_cscore"))
      .withColumn("_crnk", row_number().over(cellW))
      .filter(col("_crnk") <= probes)
      .select(col("_rid"), col("cell_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def kernelPicks(df: DataFrame, idC: String, vecCol: String,
      centroids: DataFrame, probes: Int): Set[(Long, Long)] = {
    val packed = centroids.agg(array_sort(collect_list(struct(
      col("cell_id").cast("long").as("cell_id"),
      col("centroid").cast("array<double>").as("centroid"),
      l2Norm(col("centroid")).as("cnorm")))).as("_cells"))
    df.crossJoin(broadcast(packed))
      .select(col(idC).as("_rid"), explode(TopCells.of(
        col(vecCol), col("_cells"), probes)).as("cell_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("kernel equals ranked window on the embeddings testdata") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = SimilaritySearch.sampleCentroids(
      emb, "vec_id", "embedding", 13)
    for (p <- Seq(1, 3)) {
      assert(kernelPicks(emb, "vec_id", "embedding", cents, p) ===
        windowPicks(emb, "vec_id", "embedding", cents, p), s"p=$p")
    }
  }

  test("ties break on cell_id ascending, exactly like the window") {
    import spark.implicits._
    // all centroids are the SAME direction → every score ties; the
    // kept cells must be the smallest cell_ids in order
    val rows = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(-3.0, 0.5)))
      .toDF("id", "vec")
    val cents = Seq((7L, Seq(2.0, 4.0)), (3L, Seq(1.0, 2.0)),
      (9L, Seq(0.5, 1.0)), (5L, Seq(4.0, 8.0)))
      .toDF("cell_id", "centroid")
    assert(kernelPicks(rows, "id", "vec", cents, 2) ===
      windowPicks(rows, "id", "vec", cents, 2))
    val got = kernelPicks(rows, "id", "vec", cents, 2)
    assert(got === Set((1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L)))
  }

  test("a real -0.0 score ties 0.0 and breaks on cell_id") {
    import spark.implicits._
    // the dot fold starts at +0.0, so a perpendicular centroid scores
    // +0.0; a tiny negative dot that underflows in the division is a
    // true -0.0: -MinPositiveValue / (1 · 4)
    val negZero = Seq(-Double.MinPositiveValue, 4.0)
    val rows = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
    val score = rows.select((dotF64(col("vec"), typedLit(negZero)) /
        (l2Norm(col("vec")) * l2Norm(typedLit(negZero)))))
      .head().getDouble(0)
    assert(1.0 / score === Double.NegativeInfinity,
      s"fixture score $score is not -0.0")
    // -0.0 on the lower cell_id: a tie keeps it; 0.0-beats-(-0.0)
    // would pick cell 2
    for ((neg, pos) <- Seq((1L, 2L), (2L, 1L))) {
      val cents = Seq((neg, negZero), (pos, Seq(0.0, 1.0)))
        .toDF("cell_id", "centroid")
      val got = kernelPicks(rows, "id", "vec", cents, 1)
      assert(got === windowPicks(rows, "id", "vec", cents, 1))
      assert(got === Set((1L, 1L)))
    }
  }

  test("p past the cell count keeps every cell, best first") {
    import spark.implicits._
    val rows = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
    val cents = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)))
      .toDF("cell_id", "centroid")
    assert(kernelPicks(rows, "id", "vec", cents, 10) ===
      windowPicks(rows, "id", "vec", cents, 10))
  }

  test("float vectors widen per element, like dotF64") {
    import spark.implicits._
    val rows = Seq((1L, Seq(0.25f, -1.5f)), (2L, Seq(2.0f, 0.125f)))
      .toDF("id", "vec")
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.6, 0.8))).toDF("cell_id", "centroid")
    assert(kernelPicks(rows, "id", "vec", cents, 2) ===
      windowPicks(rows, "id", "vec", cents, 2))
  }
}
