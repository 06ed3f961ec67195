package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerApplicationEnd

/** Test-only access to the `private[spark]` listener bus. Kept out of
  * the production [[bridge]]: a synthetic ApplicationEnd triggers every
  * registered listener's teardown, which no production caller may do.
  */
object testBridge {
  /** Post a synthetic ApplicationEnd through the REAL listener bus —
    * drives the frame-memo eviction listener end to end without
    * stopping the suite-shared SparkContext.
    */
  def postApplicationEnd(sc: SparkContext): Unit =
    sc.listenerBus.post(SparkListenerApplicationEnd(System.currentTimeMillis()))

  /** The number of listeners registered on the context's bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
