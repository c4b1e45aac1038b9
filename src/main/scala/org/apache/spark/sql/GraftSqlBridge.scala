package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one `private[sql]` seam the graft engine needs: build a DataFrame
  * from a hand-constructed [[LogicalPlan]] (for the custom whole-operator
  * nodes under `graft.plans`). Placing a tiny bridge object inside the
  * `org.apache.spark.sql` package is the standard public-ecosystem pattern
  * for this (Delta, Sedona, Iceberg all ship one); everything else in the
  * repo sticks to the public API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply `rule` once to `df`'s optimized plan, run `check` on the
    * result — a `require` that the rule fired, so an inert rule fails
    * the query — and return that plan as a DataFrame. */
  def optimizedWith(df: DataFrame, rule: Rule[LogicalPlan])(
      check: LogicalPlan => Unit): DataFrame = {
    val optimized = rule(df.queryExecution.optimizedPlan)
    check(optimized)
    ofRows(df.sparkSession, optimized)
  }

  /** Wrap a resolved catalyst [[Expression]] as a user-facing [[Column]]
    * (the inverse seam: plan-extracted attributes fed back through the
    * public DataFrame API, e.g. the chain-reorder rule pricing a join
    * key it pulled out of an optimized plan). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
