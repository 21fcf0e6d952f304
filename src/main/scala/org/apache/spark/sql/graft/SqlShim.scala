package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to the `private[sql]` members a third-party operator
  * library needs: turning a custom resolved [[LogicalPlan]] back into a
  * public DataFrame (the access path `Dataset.ofRows` gives Spark's own
  * modules), and the float normalization Spark's planner applies to
  * grouping keys. Nothing else from the internal API surface is exposed.
  */
object SqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `e` with NaN and -0.0 normalized, as Spark groups and joins on it. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
