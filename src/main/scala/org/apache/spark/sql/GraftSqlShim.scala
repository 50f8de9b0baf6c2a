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
  /** A DataFrame reading a DSv2 table instance the caller built — what
    * `spark.read.format(…).load` plans, without the provider's lookup. */
  def tableFrame(spark: SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
}
