package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer waits for queued task events before it reads span totals. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
