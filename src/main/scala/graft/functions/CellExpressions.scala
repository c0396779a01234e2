package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import graft.operators.TopK

/** Per-row bounded top-p nearest-cell selection over a PACKED centroid
  * table (the IVF coarse-assignment kernel, r15 guide §2.4: remove the
  * ranking exchange outright).
  *
  * The previous shape cross-joined every row against the broadcast
  * centroid table and ranked the n×cells skinny (id, cell, score)
  * stream through a `row_number()` window — one full Exchange + sort of
  * n×cells rows per assignment, then a keyed join to re-attach the
  * payload. This expression computes the same top-p **on the row**: the
  * centroid table arrives packed as one broadcast array column, the
  * kernel walks it with a bounded insertion list, and the row keeps its
  * payload — no exchange, no re-attach join, map-only at any scale
  * (the 100 TB IVF assignment is then a single scan pass).
  *
  * Arithmetic parity (oracle hash contract): score =
  * dot(vec, centroid) / (sqrt(dot(vec, vec)) · cnorm) with the exact
  * [[DotF64]] sequential fold, the same operand order as the window
  * form's `dotF64(v, c) / (l2Norm(v) * cnorm)`. Ranking compares
  * (score desc, cell_id asc) under the SAME ordering Spark's window
  * sort uses for DoubleType ([[TopK.scoreOrder]]:
  * NaN first under desc, -0.0 == 0.0 a tie), so the selected
  * cells and their order are bit-identical to the
  * `row_number().over(orderBy(desc(score), cell_id))` formulation
  * (CellKernelSpec pins kernel ≡ window on random, tied, ±0.0 and
  * short-vector fixtures).
  *
  * Inputs: vec ARRAY<FLOAT|DOUBLE>, cells ARRAY<STRUCT<cell_id LONG,
  * centroid ARRAY<DOUBLE>, cnorm DOUBLE>>, p (positive INT). Output:
  * ARRAY<LONG> of the chosen cell_ids, best first (≤ p entries; fewer
  * only when the table has fewer cells). Null vec/cells → null.
  */
case class TopCells(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, false)

  private def vecElemType: Option[DataType] = first.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  private def cellsOk: Boolean = second.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _),
      StructField(_, DoubleType, _, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecElemType.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"top_cells vec must be ARRAY<FLOAT|DOUBLE>, got ${first.dataType}")
    else if (!cellsOk)
      TypeCheckResult.TypeCheckFailure(
        "top_cells cells must be ARRAY<STRUCT<LONG, ARRAY<DOUBLE>, " +
          s"DOUBLE>>, got ${second.dataType}")
    else if (third.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"top_cells p must be INT, got ${third.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val vecIsFloat = vecElemType.contains(FloatType)

  override def nullSafeEval(v: Any, c: Any, p: Any): Any =
    TopCells.topCells(v.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], p.asInstanceOf[Int], vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, p) => {
      s"""
         |${ev.value} = graft.functions.TopCells.topCells(
         |  $v, $c, $p, $vecIsFloat);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): TopCells =
    copy(first = f, second = s, third = t)
}

object TopCells {
  /** Column wrapper: top-`p` cells of `vec` under packed `cells`. */
  def of(vec: Column, cells: Column, p: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(p >= 1, s"p must be >= 1 ($p)")
    ColumnBridge.column(TopCells(ColumnBridge.expression(vec),
      ColumnBridge.expression(cells),
      ColumnBridge.expression(org.apache.spark.sql.functions
        .lit(p))))
  }

  /** The kernel: one pass over the packed cells into the shared
    * bounded top-k buffer ([[TopK.TopKBuf]], (score desc, cell_id asc)
    * under [[TopK.scoreOrder]]) of size ≤ p, best first.
    * O(cells·(dim + p)) per row, zero allocation beyond the p-sized
    * buffer and the result. */
  def topCells(vec: ArrayData, cells: ArrayData, p: Int,
      vecIsFloat: Boolean): ArrayData = {
    val dim = vec.numElements()
    // row norm once, the l2Norm(vec) fold: sqrt of the sequential
    // self-dot — bit-identical to the window form's _rnorm
    var self = 0.0
    var i = 0
    if (vecIsFloat) {
      while (i < dim) {
        val x = vec.getFloat(i).toDouble; self += x * x; i += 1
      }
    } else {
      while (i < dim) { val x = vec.getDouble(i); self += x * x; i += 1 }
    }
    val vnorm = math.sqrt(self)
    val nCells = cells.numElements()
    val keep = math.min(p, nCells)
    val best = new TopK.TopKBuf(keep)
    var j = 0
    while (j < nCells) {
      val cell = cells.getStruct(j, 3)
      val cent = cell.getArray(1)
      val n = math.min(dim, cent.numElements())
      var dot = 0.0
      var k = 0
      if (vecIsFloat) {
        while (k < n) {
          dot += vec.getFloat(k).toDouble * cent.getDouble(k); k += 1
        }
      } else {
        while (k < n) { dot += vec.getDouble(k) * cent.getDouble(k); k += 1 }
      }
      TopK.insert(best, keep, dot / (vnorm * cell.getDouble(2)),
        cell.getLong(0), dedup = false)
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(best.ids, best.n))
  }
}
