package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters,
  * needed to expose custom Catalyst expressions
  * (graft.plans.VectorExpressions) as user-facing `Column`s, and into
  * its InternalRow → DataFrame constructor, needed by kernels that
  * compute on Catalyst values without an encoder round trip. Lives in
  * the org.apache.spark.sql namespace purely for access — the usual
  * pattern for Spark extension libraries; no Spark internals are
  * modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
