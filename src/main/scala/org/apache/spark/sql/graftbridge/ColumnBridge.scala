package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made `Column` ↔ catalyst `Expression` conversion
  * `private[sql]` (columns are backed by ColumnNodes in sql-api).
  * This tiny bridge lives inside the `org.apache.spark.sql` package
  * namespace solely to re-export the two conversions our custom
  * expressions (graft.plans) need. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (resolved) custom LogicalPlan —
    * `Dataset.ofRows` is sql-private in Spark 4.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a one-row one-column DataFrame as a scalar-subquery
    * expression — the shape Spark's own runtime filters
    * (InjectRuntimeFilter) use: the subquery materializes first,
    * then the consuming predicate evaluates scan-side, below any
    * exchange, and no join-reordering rule can move work past it
    * (a broadcast-join formulation of the same filter gets reordered
    * by PushLeftSemiLeftAntiThroughJoin).
    */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan))
}
