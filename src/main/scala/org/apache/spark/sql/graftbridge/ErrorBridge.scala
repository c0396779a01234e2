package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge to Spark's `private[sql]` error factory, so a kernel that
  * divides outside a Catalyst expression fails with the error Spark's
  * own division raises under ANSI mode (DIVIDE_BY_ZERO). */
object ErrorBridge {
  def divideByZero(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)
}
