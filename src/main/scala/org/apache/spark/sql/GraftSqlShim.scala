package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column↔Expression converters — the standard
  * extension-point technique for libraries adding native Catalyst
  * expressions outside the Spark source tree. */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A frame over rows already in Catalyst internal form — no external
    * `Row` conversion on the way in. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
  /** `types.AbstractDataType` is `private[sql]`; this public alias lets
    * graft expressions declare `inputTypes` for analyzer coercion. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
