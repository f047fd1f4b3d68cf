package org.apache.spark

/** The one Spark-internal call the benchmark's span collector needs:
  * listener events are delivered asynchronously, so metrics are read only
  * after the bus has delivered everything posted so far.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
