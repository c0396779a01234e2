package graft.operators

import java.math.BigInteger
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftbridge.DecimalBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.Decimal

/** The engine's one exact vector mean, per position the value of
  * `CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)` over the
  * vectors that reach that position — bit for bit, in any merge order,
  * so a SQL oracle replays label centroids (q43) and every k-means
  * round exactly.
  *
  *  - Each element is rounded as Spark's double → DECIMAL(18,9) cast
  *    rounds it (HALF_UP on the double's shortest decimal form). NaN
  *    and ±∞ cast to NULL. An element that rounds to 1e9 or more fails
  *    with Spark's NUMERIC_VALUE_OUT_OF_RANGE under ANSI and is NULL
  *    otherwise. A NULL element counts but adds nothing; a position
  *    that sums no element has a NULL mean.
  *  - Sums are unscaled longs (scale 9) added with `Math.addExact` and
  *    widened to BigInteger on overflow; a total outside DECIMAL(28,9),
  *    the type Spark sums DECIMAL(18,9) into, fails under ANSI and is
  *    NULL otherwise.
  *  - Counts are per position: vectors of different lengths average
  *    each position over the vectors long enough to have it.
  *
  * State is one long sum and one count per position — bounded by the
  * dimension, never by the number of vectors. */
final class ExactMean(ansi: Boolean) extends Serializable {
  private var sums = new Array[Long](0)
  /** Per position, the sum once it overflowed a long (then `sums` is
    * stale there); null until some position overflows. */
  private var wide: Array[BigInteger] = null
  private var counts = new Array[Long](0)
  private var summed = new Array[Boolean](0)

  /** Positions seen so far (the longest vector added). */
  def dim: Int = counts.length

  def add(vec: ArrayData): this.type = {
    val n = vec.numElements()
    grow(n)
    var i = 0
    while (i < n) {
      counts(i) += 1
      if (!vec.isNullAt(i)) {
        val d = ExactMean.toDecimal18(vec.getDouble(i), ansi)
        if (d != null) addAt(i, d.toUnscaledLong)
      }
      i += 1
    }
    this
  }

  def merge(o: ExactMean): this.type = {
    grow(o.dim)
    var i = 0
    while (i < o.dim) {
      counts(i) += o.counts(i)
      if (o.summed(i)) {
        if (o.wide != null && o.wide(i) != null) addWide(i, o.wide(i))
        else addAt(i, o.sums(i))
      }
      i += 1
    }
    this
  }

  /** The per-position means; NULL where nothing was summed. */
  def mean: Array[java.lang.Double] = Array.tabulate(dim) { i =>
    val total =
      if (!summed(i)) null
      else if (wide == null || wide(i) == null) Decimal(sums(i), 28, 9)
      else DecimalBridge.toPrecision(
        Decimal(new java.math.BigDecimal(wide(i), 9)), 28, 9, !ansi)
    if (total == null) null
    else java.lang.Double.valueOf(total.toDouble / counts(i))
  }

  private def addAt(i: Int, u: Long): Unit = {
    if (wide != null && wide(i) != null) addWide(i, BigInteger.valueOf(u))
    else {
      try sums(i) = Math.addExact(sums(i), u)
      catch {
        case _: ArithmeticException =>
          addWide(i, BigInteger.valueOf(u))
      }
    }
    summed(i) = true
  }

  private def addWide(i: Int, b: BigInteger): Unit = {
    if (wide == null) wide = new Array[BigInteger](dim)
    if (wide(i) == null) wide(i) = BigInteger.valueOf(sums(i))
    wide(i) = wide(i).add(b)
    summed(i) = true
  }

  private def grow(n: Int): Unit = if (n > dim) {
    sums = java.util.Arrays.copyOf(sums, n)
    counts = java.util.Arrays.copyOf(counts, n)
    summed = java.util.Arrays.copyOf(summed, n)
    if (wide != null) wide = java.util.Arrays.copyOf(wide, n)
  }
}

object ExactMean {
  private type Vec = Array[java.lang.Double]

  /** Spark's CAST(x AS DECIMAL(18,9)): null where the cast is NULL. */
  private def toDecimal18(x: Double, ansi: Boolean): Decimal =
    try DecimalBridge.toPrecision(Decimal(x), 18, 9, !ansi)
    catch { case _: NumberFormatException => null }

  /** The mean as a typed aggregate over ARRAY<DOUBLE> → ARRAY<DOUBLE>;
    * a NULL vector adds nothing. */
  final class Agg(ansi: Boolean) extends Aggregator[Vec, ExactMean, Vec] {
    def zero: ExactMean = new ExactMean(ansi)
    def reduce(b: ExactMean, v: Vec): ExactMean =
      if (v == null) b
      else b.add(new GenericArrayData(v.asInstanceOf[Array[Any]]))
    def merge(a: ExactMean, b: ExactMean): ExactMean = a.merge(b)
    def finish(b: ExactMean): Vec = b.mean
    def bufferEncoder: Encoder[ExactMean] = Encoders.kryo[ExactMean]
    def outputEncoder: Encoder[Vec] = ExpressionEncoder[Vec]()
  }

  /** Aggregate column: the exact mean of `vec` (any ARRAY<FLOAT|DOUBLE>)
    * per group, with the session's ANSI setting. */
  def of(vec: Column): Column =
    udaf(new Agg(SQLConf.get.ansiEnabled), ExpressionEncoder[Vec]())(
      vec.cast("array<double>"))
}
