package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** Minimal bridge to Spark's session-internal Dataset constructor,
  * needed to build a DataFrame from a custom LogicalPlan
  * (graft.plans.DetectNode). Lives in an org.apache.spark.sql
  * subpackage because the constructor is `private[sql]` — the
  * standard pattern for extension libraries that ship their own
  * plan nodes. The one other reach into Spark internals is
  * [[drainListenerBus]], for the profiling tools.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Block until the async listener bus has delivered every queued
    * event, so a SparkListener's view of finished jobs is complete
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
