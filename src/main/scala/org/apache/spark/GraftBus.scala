package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.util.Utils

/** The listener bus's `post` and wait-until-empty calls are package-private,
  * so graft reaches them from this package: the runner posts its own events
  * on the session's bus, and a reading waits until every event posted before
  * it has been delivered instead of sleeping and hoping. The thread-local
  * property calls are package-private too; [[callerProperties]] uses them. */
object GraftBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Captures the calling thread's Spark local properties (job group, job
    * description, scheduler pool, SQL execution ids) so that a body run on
    * another thread can carry them; see [[CallerProperties.run]]. A pooled
    * thread otherwise keeps the properties it inherited when it was
    * created, from whichever thread that was. Spark's own broadcast threads
    * do the same (`SQLExecution.withThreadLocalCaptured`). */
  def callerProperties(): CallerProperties =
    new CallerProperties(SparkContext.getActive.map(sc =>
      (sc, Utils.cloneProperties(sc.getLocalProperties))))

  final class CallerProperties private[GraftBus] (
      captured: Option[(SparkContext, java.util.Properties)]) {
    /** Runs `body` on the current thread under a copy of the captured
      * properties, then restores the thread's own. Without an active
      * context at capture the body runs as it is. */
    def run[A](body: => A): A = captured match {
      case None => body
      case Some((sc, props)) =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(Utils.cloneProperties(props))
        try body finally sc.setLocalProperties(own)
    }
  }
}
