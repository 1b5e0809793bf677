package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression adapters for this library's custom
  * expressions. Spark 4 moved these behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so the adapter lives in
  * an org.apache.spark.sql subpackage — the standard extension-library
  * escape hatch; no Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an already-resolved custom LogicalPlan (Spark 4
    * moved `Dataset.ofRows` behind the classic split) — the entry point
    * for whole-operator extensions (graft.plans.AsofJoin). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `s` with every field, nested ones included, nullable: the schema a
    * parquet read returns for data written with `s`. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
