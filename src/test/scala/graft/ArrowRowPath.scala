package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

/** The arrow-ipc scan's ROW reader (`ArrowIpcPartitionReader`), forced: a
  * read that projects the `_pos` metadata column is never columnar, since
  * positions are spliced in per row. Tests cross-check it against the
  * columnar reader (`ArrowIpcColumnarReader`) that a plain `load(dir)`
  * takes. */
object ArrowRowPath {
  /** `dir`'s rows through the row reader, each ending with its `_pos`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("arrow-ipc").load(dir).select(col("*"), col("_pos"))

  /** The rows of a [[read]] frame (or a frame over it), `_pos` dropped. */
  def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.map(r => Row.fromSeq(r.toSeq.init))

  /** Whether the scan of an exchange-free `df` runs columnar. */
  def columnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.supportsColumnar
    }.head
}
