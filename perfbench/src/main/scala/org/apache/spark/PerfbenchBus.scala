package org.apache.spark

/** Listener events reach listeners asynchronously. The traced run reads
  * listener counts at operation boundaries, so it first waits until the
  * bus has delivered every event posted so far; the bus is only
  * reachable from inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
