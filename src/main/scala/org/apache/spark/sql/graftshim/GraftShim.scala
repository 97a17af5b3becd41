package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft's planner extension needs:
  * wrapping a constructed [[LogicalPlan]] back into a DataFrame
  * (`Dataset.ofRows`). Lives in an `org.apache.spark.sql` subpackage
  * for exactly that qualified-private access — the standard pattern
  * for out-of-tree plan nodes; nothing else internal is touched. */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the async listener bus, so a SparkListener or
    * QueryExecutionListener (specs, JoinAudit) is read deterministically.
    * `listenerBus` is `private[spark]`, hence the shim. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
