package org.apache.spark

/** Listener-bus drain for the benchmark harness. Listener events arrive
  * asynchronously; per-operation metrics are read only after every event an
  * operation produced has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
