package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Honest full-evaluation forcing for benchmark timing.
  *
  * `df.count()` lets Catalyst prune every operator whose columns the
  * count does not reference — a Window, a projection full of string
  * expressions, a final decimal cast — so a count-timed bench row
  * under-measures expression-heavy plans (r11 NOTES: the cka_64 row
  * read 2.4 s count-pruned vs 25 s actually evaluated). The honest
  * forcing hashes EVERY output column into one aggregate, which is
  * what ScaleBench has always used; as of r12 the per-round Bench
  * uses it too (coordinated in NOTES — BENCH_r12 rows are therefore
  * not directly comparable to count-forced BENCH_r11 rows for
  * expression-heavy queries; the calibration sentinel is unchanged).
  *
  * The hash aggregate itself is one codegen'd pass over the result —
  * negligible next to any real query, and identical work per row
  * across rounds, so cross-round comparisons stay like-for-like.
  */
object Force {

  /** XxHash64 rejects MapType at analysis; everything else in this
    * repo's query outputs (atomics, arrays, structs, binary) hashes
    * natively. Map-typed columns are serialized through to_json —
    * still a full evaluation of the column, just via a different
    * byte stream. */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType        => false
    case ArrayType(et, _)  => hashable(et)
    case StructType(fs)    => fs.forall(f => hashable(f.dataType))
    case _                 => true
  }

  /** Row count through an aggregation that also checksums every
    * output column — forces FULL evaluation of the plan. Columns
    * are first renamed POSITIONALLY (toDF) so duplicate or
    * dot-containing output names — legal in Spark results, and
    * harmless to the count() forcing this replaces — cannot make
    * the name-based col() resolution throw. */
  def fullEval(df: DataFrame): Long = {
    val renamed = df.toDF(df.columns.indices.map(i => s"_fe$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      if (hashable(f.dataType)) col(f.name) else to_json(col(f.name))
    }
    renamed.select(xxhash64(cols.toSeq: _*).as("_h"))
      .agg(sum(pmod(col("_h"), lit(1000000007L))), count(lit(1)))
      .head.getLong(1)
  }

  /** One timed pass of Bench and Profile, in seconds: clear the
    * storage pool, then build the frame (operators checkpoint while
    * building) and evaluate it in full. A failure propagates. */
  def timedPass(spark: SparkSession)(build: => DataFrame): Double = {
    GraftSession.clearPool(spark)
    val t0 = System.nanoTime()
    fullEval(build)
    (System.nanoTime() - t0) / 1e9
  }
}
