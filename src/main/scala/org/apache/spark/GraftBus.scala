package org.apache.spark

/** Listener-bus drain for job accounting: blocks until the bus has
  * delivered every event posted so far, so a listener's counts are
  * complete without sleeping. Lives in `org.apache.spark` because
  * `SparkContext.listenerBus` is package-private.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
