package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * that `statusTracker` counts include jobs that have just finished.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
