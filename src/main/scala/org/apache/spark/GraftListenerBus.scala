package org.apache.spark

/** Spark's listener bus is private: graft.Bench reads its job counter only
  * after every queued event was delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
