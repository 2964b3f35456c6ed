package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression and LogicalPlan -> DataFrame bridge: Spark 4
  * unified Column is a ColumnNode wrapper, and the classic conversion utils
  * and `Dataset.ofRows` are private[sql]; extensions providing native
  * Catalyst expressions and plan nodes use this standard in-package bridge
  * (same pattern as third-party connector libraries). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
