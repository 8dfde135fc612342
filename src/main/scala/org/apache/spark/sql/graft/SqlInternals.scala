package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The members of Spark's sql package that graft calls and Spark keeps
  * private to it. */
object SqlInternals {
  /** A frame over a logical plan the caller builds. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `e` with its float and double values normalized as Spark's join and
    * grouping keys are: `-0.0` reads `0.0`, every `NaN` the same `NaN`. */
  def normalizeFloats(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}
