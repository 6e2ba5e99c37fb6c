package org.apache.spark

/** Exact listener drain: the bus is asynchronous, and its wait-until-empty
  * call is package-private, so the benchmark reaches it from this package
  * instead of sleeping and hoping the events have arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
