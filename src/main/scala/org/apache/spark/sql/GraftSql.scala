package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's one bridge to Spark's `private[sql]` factories: a DataFrame
  * over an already analyzed plan, as `SparkSession.table` builds one.
  */
object GraftSql {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
