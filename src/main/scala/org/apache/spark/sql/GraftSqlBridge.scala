package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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

  /** Optimize `df` with the conf-gated rule behind `flag` switched on for
    * this one optimization (flag set, plan frozen, flag restored), run
    * `check` on the frozen plan — a `require` that the rule fired, so an
    * inert rule fails the query — and return that plan as a DataFrame. */
  def optimizedWithFlag(df: DataFrame, flag: String)(
      check: LogicalPlan => Unit): DataFrame = {
    val s = df.sparkSession
    val prior = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    val optimized =
      try df.queryExecution.optimizedPlan
      finally prior.fold(s.conf.unset(flag))(s.conf.set(flag, _))
    check(optimized)
    ofRows(s, optimized)
  }

  /** Wrap a resolved catalyst [[Expression]] as a user-facing [[Column]]
    * (the inverse seam: plan-extracted attributes fed back through the
    * public DataFrame API, e.g. the chain-reorder rule pricing a join
    * key it pulled out of an optimized plan). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
