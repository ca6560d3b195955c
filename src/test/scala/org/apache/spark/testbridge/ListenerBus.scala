package org.apache.spark.testbridge

import org.apache.spark.SparkContext

/** `private[spark]` access for tests that count listener events. */
object ListenerBus {

  /** Listener events arrive on an asynchronous bus; block until every
    * event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
