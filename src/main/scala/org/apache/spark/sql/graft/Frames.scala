package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builds frames and columns from Catalyst trees. In this package only to reach
  * `Dataset.ofRows` and `ExpressionUtils`. `TableIO.parquet` returns a reused relation
  * through [[ofPlan]]. */
object Frames {
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
