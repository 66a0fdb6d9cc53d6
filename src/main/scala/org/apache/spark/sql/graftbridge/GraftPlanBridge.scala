package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's single, deliberately narrow crossing into Spark's
  * `private[sql]` surface: there is no public API that builds a DataFrame
  * from a user-constructed `LogicalPlan` (the documented extension points
  * cover functions, rules, strategies, and sources — but a custom WHOLE
  * OPERATOR like [[graft.plans.CoresetPlan]] still needs `Dataset.ofRows`
  * to enter a query). Placing this one-line forwarder in a subpackage of
  * `org.apache.spark.sql` grants the `private[sql]` access — the same
  * technique public Spark extension libraries use for the same gap.
  * Everything else in the engine goes through public API.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
