package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.Decimal

/** Bridge between raw Catalyst [[Expression]]s and the public [[Column]]
  * API. Lives under org.apache.spark.sql because the classic converters
  * are private[sql]; this is the standard pattern for libraries that ship
  * native expressions without forking Spark. Also hands kernels the
  * private[sql] error of the built-in whose behaviour they reproduce. */
object ColumnBridge {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** ANSI element_at's out-of-bounds error. */
  def elementAtIndexError(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)

  /** ANSI CAST(d AS DECIMAL(precision, scale))'s overflow error. */
  def decimalOverflowError(d: Double, precision: Int, scale: Int): ArithmeticException =
    QueryExecutionErrors.cannotChangeDecimalPrecisionError(Decimal(d), precision, scale, null)
}
