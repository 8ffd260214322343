package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test-only access to Spark internals:
  *  - `classic.Dataset.ofRows` (private[sql]): the GuardrailsSpec limit
  *    lint materializes a Sort node's CHILD as a DataFrame to check the
  *    sort keys form a total order empirically;
  *  - the listener bus (private[spark]): a probe drains it before it
  *    reads what its listeners saw, since the bus delivers events
  *    asynchronously.
  */
object GraftSqlTestShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
