package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until the
  * listener bus has delivered every event posted so far, so the trace is
  * complete without sleeping. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
