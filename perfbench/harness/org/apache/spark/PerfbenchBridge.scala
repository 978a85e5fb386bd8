package org.apache.spark

/** The one `private[spark]` seam the benchmark's tracer needs: the
  * listener bus is asynchronous, so a traced window drains it before it
  * reads its counters. */
object PerfbenchBridge {
  def flushListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
