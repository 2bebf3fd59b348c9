package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the listener bus's `appStatus` queue — the queue whose
  * listener feeds `SparkContext.getRDDStorageInfo` and the UI. A listener
  * added here runs in line with the status listener, so a slow one holds
  * the status store back. Remove it with `SparkContext.removeSparkListener`. */
object StatusQueue {
  def add(sc: SparkContext, listener: SparkListenerInterface): Unit =
    sc.listenerBus.addToStatusQueue(listener)
}
