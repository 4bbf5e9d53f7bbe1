package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` seams the engine needs:
  * Column↔Expression conversion (graft.functions.SqlFunctions builds its
  * kernels' Columns from the argument expressions) and Dataset construction
  * from a LogicalPlan (graft.plans.TopKPerGroup, AsofBroadcastJoin).
  * Original code — placed in this package purely for access, the standard
  * Spark-extension technique. */
object GraftSqlBridge {
  /** The Column's Catalyst tree as the analyzer will see it (unresolved
    * attributes stay unresolved). Not `ExpressionUtils.expression`: its
    * lazy wrapper reports `resolved = true` before analysis. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
