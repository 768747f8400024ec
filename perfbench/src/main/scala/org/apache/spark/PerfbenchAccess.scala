package org.apache.spark

/** The one Spark-internal the tracer needs: listener events arrive on an
  * asynchronous bus, so span counters are read only after it drains.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
