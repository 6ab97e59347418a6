package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Reaches Spark's package-private frame constructor, so graft can wrap an
  * already analyzed plan in a new frame without analyzing it again. */
object GraftFrames {
  /** A frame over `plan`, in `df`'s session. `plan` must be resolved and
    * built over `df`'s analyzed plan. */
  def ofAnalyzed(df: DataFrame, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }
}
