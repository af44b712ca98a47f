package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Bridge between the Spark 4 Column (ColumnNode) API and raw Catalyst
  * expressions, for registering graft's native expressions as Columns,
  * and from a logical plan to its DataFrame. Lives in org.apache.spark.sql
  * only to reach `Column.node` and `Dataset.ofRows` (private[sql]);
  * contains no Spark-internal logic. */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = Column(ExpressionColumnNode(e))
  def toExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
