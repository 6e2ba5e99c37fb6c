package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-owned span around a call into a layer. Times are
  * epoch nanoseconds, so they line up with Spark's job timestamps. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      req: String, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans plus job tags. Off, `span` is a plain call: nothing is recorded
  * and no Spark property is touched. On, every job started inside a span
  * carries the span id, its layer and its request id as local properties
  * and as the job group, so the listener can attribute it. */
final class Tracer(val on: Boolean, sc: SparkContext, workload: String) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + offsetNs

  def span[T](name: String, layer: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length + 1, name, layer, stack.headOption.fold(0)(_.id),
        req, nowNs, 0L)
      spans += s
      stack = s :: stack
      tag(s)
      try body
      finally {
        s.end = nowNs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => tag(p)
          case None => untag()
        }
      }
    }

  private def tag(s: Span): Unit = {
    sc.setJobGroup(s"$workload/${s.req}", s"${s.layer}:${s.name}")
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    sc.setLocalProperty(Tracer.LayerKey, s.layer)
    sc.setLocalProperty(Tracer.ReqKey, s.req)
  }

  private def untag(): Unit = {
    sc.clearJobGroup()
    Seq(Tracer.SpanKey, Tracer.LayerKey, Tracer.ReqKey)
      .foreach(sc.setLocalProperty(_, null))
  }

  /** Self time of each span: its duration minus the part of it covered by
    * its child spans and by the Spark jobs tagged with it. */
  def selfSeconds(jobs: Seq[JobRec]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    val jobsOf = jobs.groupBy(_.span)
    spans.map { s =>
      val cover = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq ++
        jobsOf.getOrElse(s.id, Nil).map(j => (j.startNs, j.endNs))
      s.id -> math.max(0.0,
        (s.end - s.start - Intervals.covered(cover, s.start, s.end)) / 1e9)
    }.toMap
  }

  /** One JSON line per span, then one per Spark job with the span, layer
    * and request it was tagged with (span 0: started outside any span). */
  def writeJsonl(path: Path, jobs: Seq[JobRec]): Unit = {
    val lines = spans.map { s =>
      Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "req" -> s.req, "start_ns" -> s.start,
        "end_ns" -> s.end)
    } ++ jobs.map { j =>
      Json.obj("kind" -> "job", "id" -> j.id, "span" -> j.span, "layer" -> j.layer,
        "req" -> j.req, "start_ns" -> j.startNs, "end_ns" -> j.endNs)
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val LayerKey = "perfbench.layer"
  val ReqKey = "perfbench.req"
}

object Intervals {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

final case class JobRec(id: Int, startNs: Long, var endNs: Long, span: Int,
                        layer: String, req: String)

final case class Totals(jobs: Int, tasks: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, input: Long, output: Long) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input, output - o.output)
}

/** Scheduler and task counters from Spark's public listener API. The
  * totals only grow; a phase reads a [[Totals]] snapshot before and after
  * itself. */
final class SparkMeter extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private var t = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time * 1000000L, 0L,
      prop(e.properties, Tracer.SpanKey).map(_.toInt).getOrElse(0),
      prop(e.properties, Tracer.LayerKey).getOrElse(""),
      prop(e.properties, Tracer.ReqKey).getOrElse(""))
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endNs = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) t = Totals(t.jobs, t.tasks + 1,
      t.runMs + m.executorRunTime, t.cpuNs + m.executorCpuTime,
      t.gcMs + m.jvmGCTime, t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      t.input + m.inputMetrics.bytesRead, t.output + m.outputMetrics.bytesWritten)
    else t = t.copy(tasks = t.tasks + 1)
  }

  def totals: Totals = synchronized(t)

  /** Jobs that started inside [fromNs, toNs]. */
  def jobsBetween(fromNs: Long, toNs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startNs >= fromNs && j.startNs <= toNs && j.endNs > 0)
      .toList
  }
}

/** Catalyst time: the analysis/optimization/planning phases of every
  * query that ran an action. */
final class CatalystMeter extends QueryExecutionListener {
  @volatile var queries = 0
  @volatile var planMs = 0L
  private def record(qe: QueryExecution): Unit = synchronized {
    queries += 1
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** One micro-batch's progress: batch duration, `addBatch`, and the whole
  * trigger execution. */
final case class Batch(durationS: Double, addBatchS: Double, triggerS: Double)

/** Per-micro-batch progress of streaming queries. */
final class StreamMeter extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      batches += Batch(p.batchDuration / 1000.0, ms("addBatch"), ms("triggerExecution"))
    }
  def all: Seq[Batch] = synchronized(batches.toList)
}

/** Post-GC heap peak: the heap left in use after each collection, from
  * the JVM's GC notifications. */
object Heap {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }
  }

  def reset(): Unit = { System.gc(); peak = 0L }

  def peakMb: Double = { System.gc(); Thread.sleep(50); peak / 1048576.0 }
}

/** The listeners one session needs, registered once. */
final class Meters(spark: SparkSession, traced: Boolean) {
  val stream = new StreamMeter
  spark.streams.addListener(stream)
  val sparkMeter: Option[SparkMeter] =
    if (traced) { val m = new SparkMeter; spark.sparkContext.addSparkListener(m); Some(m) }
    else None
  val catalyst: Option[CatalystMeter] =
    if (traced) { val m = new CatalystMeter; spark.listenerManager.register(m); Some(m) }
    else None
  if (traced) Heap.install()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
