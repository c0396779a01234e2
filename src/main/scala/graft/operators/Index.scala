package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** The vector index as a persisted DataFrame (SURVEY §2.11 V6-V8 +
  * §2.1 S7: the north-star design replaces the online vector store
  * with an index-build — a bucketed parquet layout of
  * (point_id, embedding, payload)).
  *
  * Point ids are deterministic UUIDv5 over the chunk id, exactly like
  * the reference's Qdrant upsert (`services/database.py:260-268`), so
  * re-builds are idempotent (D2): same chunks → same points →
  * overwrite converges.
  */
object Index {

  /** Build index rows from enriched+embedded chunks: the 7-field
    * payload projection (F13), UUIDv5 point id, chunk and embedding —
    * one point per chunk row; a row without a chunk id has none. */
  def buildPoints(chunks: DataFrame): DataFrame =
    Ingest.vectorPayload(chunks.filter(col("chunk_id").isNotNull),
      Hashing.uuid5(col("chunk_id")).as("point_id"), col("chunk"),
      col("embedding"))

  /** S7: write the index bucketed by point-id hash — even file sizes,
    * parallel rebuild, prunable deletes. Each `bucket=N/` directory
    * holds ONE part file: the rows are shuffled on the bucket first
    * and AQE sizes the write tasks, so a write pays per byte, not
    * per (task × bucket) file. Through the session's local
    * filesystem ([[graft.io.PosixLocalFileSystem]]) no file or
    * directory forks a process. The vector column skips parquet's
    * dictionary: random doubles never compress by it, and building
    * one before falling back to PLAIN cost about a third of the
    * write. */
  def write(points: DataFrame, dir: String, buckets: Int = 64): Unit =
    points
      .withColumn("bucket", pmod(xxhash64(col("point_id")), lit(buckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary#embedding.list.element", "false")
      .partitionBy("bucket").parquet(dir)

  /** S7 at the 100 TB posture: Spark-native BUCKETED table write
    * (`bucketBy` + sortBy on the join key) — joins and aggregations
    * keyed on `keyCol` against another table bucketed the same way
    * need NO shuffle on this side (the scan reports the hash
    * partitioning), which is how the chunk⋈lifecycle family of joins
    * co-locates at scale. `saveAsTable` is required by bucketBy; the
    * table lands in the session's warehouse dir. */
  def writeBucketedTable(points: DataFrame, table: String,
      keyCol: String, buckets: Int = 64): Unit =
    points.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** V8: collection point count (the post-upsert verification, A9 —
    * `consumer_utils.py:119-122`). */
  def count(spark: SparkSession, dir: String): Long =
    spark.read.parquet(dir).count()

  /** V6: metadata-filtered delete = filter + overwrite rebuild
    * (`services/database.py:277-289`): drop all points of a source
    * file. Returns the surviving points (caller writes them). */
  def deleteBySourceFile(index: DataFrame, sourceFile: String): DataFrame =
    index.filter(col("source_file") =!= lit(sourceFile))

  /** D3 analog: purge points by explicit id set (small, broadcast). */
  def deleteByIds(index: DataFrame, ids: DataFrame,
      idCol: String): DataFrame =
    index.join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti")
}
