package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column <-> Expression conversion
  * (Spark 4 wraps Column around ColumnNode; ExpressionUtils is the
  * supported internal conversion point).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan built outside the Dataset API. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The bare value of a possibly direction-qualified column: `.desc`
    * / `.asc` wrap the node in an internal (non-evaluable) SortOrder;
    * hashing or projecting such a column needs its child.
    */
  def sortChild(c: Column): Column = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder => Column(so.child)
    case _ => c
  }
}
