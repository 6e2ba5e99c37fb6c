package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one measuring listener of a session: counts Spark jobs and
  * shuffle-write bytes, and collects the runner's [[Meter.OpEvent]]s, one
  * per `LocalSparkRunner.materialize` call. Every reading first drains the
  * listener bus, so it covers every event posted before the call. Bench,
  * Prof and ScaleProbe each build one with [[Meter.apply]]. */
final class Meter private (sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val opEvents = new ConcurrentLinkedQueue[Meter.OpEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    shuffleBytes.addAndGet(
      e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case op: Meter.OpEvent => opEvents.add(op)
    case _ =>
  }

  /** Jobs started and shuffle bytes written since the meter was built. */
  def read(): Meter.Reading = {
    GraftBus.drain(sc)
    Meter.Reading(jobs.get, shuffleBytes.get)
  }

  /** The op events delivered since the last call, in posting order. */
  def ops(): Seq[Meter.OpEvent] = {
    GraftBus.drain(sc)
    Iterator.continually(opEvents.poll()).takeWhile(_ != null).toVector
  }
}

object Meter {
  final case class Reading(jobs: Long, shuffleBytes: Long) {
    def -(o: Reading): Reading = Reading(jobs - o.jobs, shuffleBytes - o.shuffleBytes)
  }

  /** How one `materialize` call resolved its op. */
  sealed trait Outcome
  /** Another call in this JVM already resolved the uuid; `seconds` is 0. */
  case object MemoHit extends Outcome
  /** Read back from the store, computing nothing. */
  case object StoreHit extends Outcome
  /** Computed here (and persisted, unless the op is ephemeral). */
  case object Computed extends Outcome
  /** The call threw. */
  case object Failed extends Outcome

  /** One `materialize` call and its outcome. */
  final case class OpEvent(opClass: String, uuid: String, seconds: Double,
      outcome: Outcome) extends SparkListenerEvent

  def apply(spark: SparkSession): Meter = {
    val m = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
