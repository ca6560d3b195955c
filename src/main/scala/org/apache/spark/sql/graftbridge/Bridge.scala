package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** `private[sql]` access bridge for the engine's custom plans
  * (graft.plans): Spark 4 moved `Dataset.ofRows` and the
  * Column→Expression conversion behind `private[sql]`, and the
  * sanctioned way for an extension library to construct a DataFrame
  * from a custom LogicalPlan is a shim inside an org.apache.spark.sql
  * subpackage (the same pattern Delta and other plan-extending
  * libraries use). The same package also reaches the `private[spark]`
  * listener bus. Keep this file free of any logic — conversions and
  * accessors only.
  */
object Bridge {

  /** DataFrame over a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Listener events arrive on an asynchronous bus; blocks until every
    * event posted so far has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Posts `event` to every listener on the bus. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
