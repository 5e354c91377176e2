package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after the bus has delivered everything posted so far.
  * `waitUntilEmpty` is package-private, hence this forwarder.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
