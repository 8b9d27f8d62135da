package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to the sql-package-private Column ↔ Expression converters.
  *
  * Spark 4 hides `ExpressionUtils` behind `private[sql]`; a library
  * shipping native Catalyst expressions (graft.functions
  * .VectorExpressions) still needs the two conversions every built-in
  * function uses internally. This shim lives in the org.apache.spark.sql
  * package purely to re-export them — no Spark behavior is modified.
  * It also re-exports `StructType.asNullable` (`private[spark]`), the
  * nullability Spark gives every file-source schema it infers
  * ([[graft.sources.ParquetFooters]]).
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def asNullable(s: StructType): StructType = s.asNullable
}
