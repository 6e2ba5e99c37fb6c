package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus's `post` and wait-until-empty calls are package-private,
  * so graft reaches them from this package: the runner posts its own events
  * on the session's bus, and a reading waits until every event posted before
  * it has been delivered instead of sleeping and hoping. */
object GraftBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
