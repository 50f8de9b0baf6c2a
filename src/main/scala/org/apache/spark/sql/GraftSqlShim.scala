package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters — the standard
  * extension-point technique for libraries adding native Catalyst
  * expressions outside the Spark source tree. */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `types.AbstractDataType` is `private[sql]`; this public alias lets
    * graft expressions declare `inputTypes` for analyzer coercion. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
