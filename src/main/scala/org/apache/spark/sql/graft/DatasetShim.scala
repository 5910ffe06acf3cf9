package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one use of Spark's package-private `Dataset.ofRows`: a DataFrame
  * over a logical plan that is already resolved (`graft.Tables` reuses
  * a table's relation this way instead of resolving its file again). */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
