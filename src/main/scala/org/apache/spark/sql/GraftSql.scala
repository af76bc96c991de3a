package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's one bridge to Spark's `private[sql]` factories: a DataFrame
  * over an already analyzed plan, as `SparkSession.table` builds one,
  * and the Column ⇄ Expression conversions the typed function builders
  * ([[graft.functions.GraftFunctions]]) construct their nodes with.
  */
object GraftSql {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
