package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.Decimal

/** Bridge to Spark's `private[sql]` `Decimal.toPrecision`, the step
  * its casts and decimal sums end with: HALF_UP to (precision, scale),
  * and on overflow NULL when `nullOnOverflow`, else Spark's own
  * NUMERIC_VALUE_OUT_OF_RANGE error. */
object DecimalBridge {
  def toPrecision(d: Decimal, precision: Int, scale: Int,
      nullOnOverflow: Boolean): Decimal =
    d.toPrecision(precision, scale, Decimal.ROUND_HALF_UP,
      nullOnOverflow, null)
}
