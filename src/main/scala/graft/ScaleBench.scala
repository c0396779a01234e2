package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K×-scaled copies of a testdata directory's corpus tables, derived
  * deterministically so the work grows exactly ×K while the data
  * distribution stays comparable: replica r of a document appends a
  * replica-specific token (new content, same statistics); replica r
  * of an embedding perturbs the first component by 0.01·r (new
  * vector, same geometry). Ids are offset by r·1,000,000 per replica.
  */
object ScaleBench {

  def scaledDocs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    (0 until k).map { r =>
      base.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _)
  }

  def scaledEmbeddings(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    (0 until k).map { r =>
      base.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) + lit(0.01 * r)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1))
          .as("embedding"))
    }.reduce(_ unionByName _)
  }
}
