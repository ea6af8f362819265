package org.apache.spark

/** The benchmark's tracer reads Spark's public listener events; this
  * only waits until the asynchronous bus has delivered all of them, so
  * a per-request total is complete when it is read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
