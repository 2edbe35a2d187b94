package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Catalyst-Expression bridge, and DataFrames over internal rows.
  *
  * Spark 4 moved the Column API onto ColumnNode and made the conversion
  * helpers `private[sql]`; a library registering its own codegen'd
  * expressions (graft.functions.ArrayDotProduct) still needs the two
  * conversions, and a sampler that writes its draws as UnsafeRows needs
  * `internalCreateDataFrame`, so this one-file shim lives in the
  * org.apache.spark.sql namespace — the standard pattern Spark extension
  * libraries use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's format for `schema`, with
    * no encoder in between; its plan is a `LogicalRDD`, whose scan
    * projects each row, so `rows` may reuse one row object per partition. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
