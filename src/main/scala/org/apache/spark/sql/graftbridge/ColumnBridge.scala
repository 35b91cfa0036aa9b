package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Catalyst Expression converters
  * and Dataset-over-a-plan constructor.
  *
  * Spark 4 marks the classic-mode converters (`classic.ExpressionUtils`) and
  * `classic.Dataset.ofRows` private to `org.apache.spark.sql`; a library that
  * builds logical plans from analyzed Catalyst expressions
  * (graft.mv.Projection's rewrite rule) or runs a parsed query with bound
  * sub-plans (graft.engine.ChSql.run) still needs them. This object lives in
  * a subpackage of `org.apache.spark.sql` purely to satisfy that
  * qualified-private access and re-exports the three calls unchanged.
  * Nothing else in the build may bypass the public API through this seam:
  * keep it three one-liners.
  */
object ColumnBridge {
  /** Wrap an (optionally unresolved) Catalyst expression as a classic Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a classic Column to its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `plan`, analyzed (and a command run) like `spark.sql`'s. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
