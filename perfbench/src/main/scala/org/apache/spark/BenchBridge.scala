package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after every event posted so far has been delivered. */
object BenchBridge {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
