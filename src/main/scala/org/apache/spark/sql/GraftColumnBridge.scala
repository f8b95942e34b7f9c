package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Public bridge to the `private[sql]` Column <-> Expression converters
  * and the LogicalPlan -> DataFrame constructor.
  *
  * Spark 4 routed Column construction through ColumnNodes (Connect
  * refactor) and made the classic converters `private[sql]`; a library
  * shipping native Catalyst expressions or rewritten plans still needs
  * them. This is the only file in the engine that lives inside Spark's
  * package namespace.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
