package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4.x made the Column <-> catalyst Expression bridge `private[sql]`
  * (columnNodeSupport.scala). This shim re-exports the two conversions for
  * graft's custom expressions — the standard pattern for libraries that ship
  * native Catalyst expressions against the classic API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `QueryExecutionErrors.divideByZeroError` is private[sql]; re-export the
    * context-less form so graft.functions.CosineFold can throw the IDENTICAL
    * DIVIDE_BY_ZERO error Spark's Divide throws under ANSI (the fused cosine
    * must reproduce the composition's failure contract, not just its value
    * contract). The null context means no SQL-fragment pointer in the
    * message — error class and condition are identical. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** `QueryExecutionErrors.overflowInSumOfDecimalError`, re-exported so
    * graft.operators.IvfIndex.exactMeans, which sums decimals outside
    * Spark's `sum`, fails with the ARITHMETIC_OVERFLOW error that `sum`
    * raises when a total leaves its result type. */
  def overflowInSumOfDecimalError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .overflowInSumOfDecimalError(null, "try_sum")
}
