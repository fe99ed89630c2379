package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builds a frame from a logical plan. In this package only to reach `Dataset.ofRows`. */
object Frames {
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
