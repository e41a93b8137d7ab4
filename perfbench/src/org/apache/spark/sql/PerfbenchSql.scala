package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark SQL keeps a session's query-execution listener list and the
  * plan-to-DataFrame constructor private; the traced run needs the first to
  * install its listener check-then-add, and the second to count rows of
  * parts of the engine's own optimized plans. */
object PerfbenchSql {
  def has(s: SparkSession, l: QueryExecutionListener): Boolean =
    s.listenerManager.listListeners().contains(l)

  def optimizedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan

  def ofPlan(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
