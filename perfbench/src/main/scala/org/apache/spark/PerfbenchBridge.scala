package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: listener
  * events arrive asynchronously, so per-span job counts are read only
  * after the listener bus has delivered everything posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
