package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector kernels over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns
  * (SURVEY §2.11: V1-V3 — cosine retrieval is the reference's core
  * query operator, `services/database.py:202-236`).
  *
  * All kernels fold left-to-right over the array (Catalyst `aggregate`),
  * so results are IEEE-deterministic and bit-identical to a sequential
  * C loop — which is what the DuckDB oracle (`list_dot_product`)
  * computes. Elements are widened float→double *before* multiplication
  * on both sides.
  */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private def f64(c: Column): Column = c.cast("array<double>")

  /** Sequential dot product, double accumulation — codegen'd
    * [[DotF64]] expression (same fold order as the interpreted
    * `aggregate(zip_with(...))` form and DuckDB's list_dot_product). */
  def dotF64(a: Column, b: Column): Column =
    ColumnBridge.column(DotF64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dotF64(a, a))

  /** Exact integer dot product over packed-int8 BINARY vectors —
    * codegen'd [[DotI8]] (the quantized-search scan kernel). */
  def dotI8(a: Column, b: Column): Column =
    ColumnBridge.column(DotI8(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine similarity = dot / (|a|·|b|). On pre-normalized embeddings
    * this reduces to the dot product (reference normalizes at embed
    * time, `utils/llm_setup.py:88-89`). */
  def cosine(a: Column, b: Column): Column =
    dotF64(a, b) / (l2Norm(a) * l2Norm(b))

  /** Deterministic mock embedding for hermetic tests: component i is
    * `pmod(mmh3("text#i"), 1e6)/1e6 − 0.5` over the seed-0 murmur3
    * the id family already uses — a pseudo-vector in [-0.5, 0.5)
    * standing in for the external e5 embed service (SURVEY §7
    * hard-part 3). Built on [[graft.functions.Murmur3]] rather than
    * Spark's seed-42 `hash()` so the DuckDB oracle can recompute the
    * exact same vectors in SQL (PipelineQueries.mmh3Ctes). */
  def mockEmbedding(text: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(
        Hashing.murmur3(concat(text, lit("#"), i.cast("string")))
          .cast("long"),
        lit(1000000L)).cast("double") / 1000000.0) - 0.5)
}
