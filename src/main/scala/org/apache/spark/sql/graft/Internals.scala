package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow bridge to the `private[sql]` Column <-> Expression
  * converters (Spark 4 moved them behind `classic.ExpressionUtils`
  * when Column became a ColumnNode wrapper). Needed where graft
  * constructs a Catalyst expression that has no DSL spelling: every
  * native kernel's Column builder ([[graft.functions.GraftFunctions]]),
  * and an [[org.apache.spark.sql.catalyst.expressions.InSet]] whose
  * value set is DATA (internal-format values), not a literal
  * expression list ([[graft.ops.Joins.inPrunedJoin]]: a 30k-literal
  * `isin` costs seconds of driver-side tree-walk per query; one InSet
  * over a hash set costs nothing). */
object Internals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` (private[sql] in Spark 4's classic shell): wrap a
    * hand-built logical plan — e.g. a [[graft.plans.BroadcastAsOfJoin]]
    * node, which has no DSL spelling — as a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
