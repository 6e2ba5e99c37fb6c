package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runner.LocalSparkRunner
import graft.spec._

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val cores: Int, val tracer: Tracer,
                val meters: Meters)

/** What a workload measured and checked, before metric assembly. */
final class Outcome {
  val latencies: ArrayBuffer[Double] = ArrayBuffer.empty
  var wallS = 0.0
  var rerunS = 0.0
  var requests = 0
  var failedRequests = 0
  val checks: ArrayBuffer[(String, Boolean, String)] = ArrayBuffer.empty
  /** Per-layer numbers only the workload can take (store walks, ratios). */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val sizes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  /** One closed-loop request: counted, and a failure is recorded instead
    * of ending the run. */
  def request[T](what: String)(body: => T): Option[T] = {
    requests += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failedRequests += 1
        System.err.println(s"perfbench: request $what failed: $e")
        None
    }
  }
}

trait Workload {
  def name: String
  /** Writes the seeded inputs (untimed). */
  def generate(ctx: Ctx, out: Outcome): Unit
  /** One set-up: everything the first request needs (timed, repeated). */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed work between set-up and the timed phase. */
  def warmup(ctx: Ctx): Unit = ()
  /** The timed phase: sets `wallS` and the request latencies. */
  def run(ctx: Ctx, out: Outcome): Unit
  /** Re-serves every request from the stores: sets `rerunS`. */
  def rerun(ctx: Ctx, out: Outcome): Unit
  /** Output checks and measured input shares (untimed). */
  def verify(ctx: Ctx, out: Outcome): Unit
  /** Releases what the workload holds; what remains is a leftover. */
  def close(ctx: Ctx): Unit
  /** Directories whose bytes make up `store_mb`. */
  def storeDirs(ctx: Ctx): Seq[Path]
}

object Workload {
  val all: Seq[Workload] = Seq(ProbeSweep, CurateCorpus, StreamIngest)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-free row hash of a frame: row count and the exact sum of the
    * rows' xxhash64. */
  def rowHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** (files, bytes, done markers) under a directory. */
  def dirStats(root: Path): (Long, Long, Long) =
    if (!Files.exists(root)) (0L, 0L, 0L)
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toList
        (files.size.toLong, files.map(Files.size).sum,
          files.count(_.getFileName.toString == "done").toLong)
      } finally s.close()
    }

  /** The op and everything it depends on, once each. */
  def nodes(ops: OpSpec*): Seq[OpSpec] =
    ops.flatMap(o => o +: o.allDependencies).groupBy(_.uuid).values.map(_.head).toSeq

  /** (already done, requested) over the non-ephemeral nodes of a request. */
  def doneShare(r: LocalSparkRunner, ops: OpSpec*): (Int, Int) = {
    val persisted = nodes(ops: _*).filterNot(_.isEphemeral)
    (persisted.count(r.isDone), persisted.size)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverse.foreach(Files.deleteIfExists)
    }

  def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(from)
    val all = try s.iterator().asScala.toList finally s.close()
    all.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  /** Bumps a file's modification time so the next content hash of it is a
    * real one, not the process-wide memo's answer. */
  def touch(p: Path, rep: Int): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(
      Files.getLastModifiedTime(p).toMillis + 1000L * (rep + 1)))
}

import Workload._

/** Shared shape of the two runner workloads: a content-addressed store,
  * a list of requests issued in a closed loop, and a rerun phase on a
  * fresh runner over the same store. */
abstract class RunnerWorkload extends Workload {
  protected var runner: LocalSparkRunner = _
  protected var rerunner: LocalSparkRunner = _
  protected def store(ctx: Ctx): Path = ctx.work.resolve("store")
  def storeDirs(ctx: Ctx): Seq[Path] = Seq(store(ctx))

  /** Opens a runner and hashes the inputs, as a client does at start. */
  protected def open(ctx: Ctx, rep: Int, inputs: Seq[Path], dataset: Path): DatasetType = {
    inputs.foreach(touch(_, rep))
    if (runner != null) runner.close()
    runner = new LocalSparkRunner(ctx.spark, store(ctx).toString)
    ctx.tracer.span("runner.hash", "runner", s"setup-$rep")(
      runner.fromParquet(dataset.toString))
  }

  /** Counts the requested nodes already in the store (traced runs only:
    * the probe costs file-system calls). */
  protected def reuse(ctx: Ctx, out: Outcome, key: String, r: LocalSparkRunner,
                      ops: OpSpec*): Unit =
    if (ctx.tracer.on) {
      val (d, n) = doneShare(r, ops: _*)
      out.layer(s"$key.done") = out.layer.getOrElse(s"$key.done", 0.0) + d
      out.layer(s"$key.requested") = out.layer.getOrElse(s"$key.requested", 0.0) + n
    }

  private var donesBefore = 0L

  /** Call before the timed phase: `runner.persisted` counts from here. */
  protected def markStore(ctx: Ctx): Unit = donesBefore = dirStats(store(ctx))._3

  protected def storeCounts(ctx: Ctx, out: Outcome): Unit = {
    val (files, _, dones) = dirStats(store(ctx))
    out.layer("runner.persisted") = (dones - donesBefore).toDouble
    out.layer("runner.store_files") = files.toDouble
    def ratio(k: String) = {
      val n = out.layer.getOrElse(s"$k.requested", 0.0)
      if (n > 0) out.layer.getOrElse(s"$k.done", 0.0) / n else 0.0
    }
    out.layer("runner.reuse_ratio") = ratio("reuse")
    out.layer("runner.store_hit_ratio") = ratio("hit")
  }

  def close(ctx: Ctx): Unit = {
    Seq(runner, rerunner).filter(_ != null).foreach(_.close())
    runner = null
    rerunner = null
  }
}
