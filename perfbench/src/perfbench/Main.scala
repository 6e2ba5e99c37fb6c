package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --cores C --spans FILE [--stop-after setup]`.
  * Prints progress lines, then `PERFBENCH_RESULT <json>` as the last line. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val wl = Workload.byName(arg("workload"))
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val meters = new Meters(spark, traced)
      val tracer = new Tracer(traced, spark.sparkContext, wl.name)
      val ctx = new Ctx(spark, work, arg("seed").toLong, arg("seconds").toInt, cores,
        tracer, meters)
      val out = new Outcome
      val (_, genS) = Workload.seconds(wl.generate(ctx, out))
      println(f"perfbench: ${wl.name} inputs generated in $genS%.2f s: ${Json.render(out.sizes)}")
      val tmpBefore = tmpEntries()

      val setups = (0 until SetupReps).map(rep => Workload.seconds(wl.setup(ctx, rep))._2)
      val setupS = sessionS + median(setups)
      // a class-archive training run (perfbench/build.py) ends here
      if (args.get("stop-after").contains("setup")) return
      val (_, warmupS) = Workload.seconds(wl.warmup(ctx))

      meters.drain()
      val sparkBefore = meters.sparkMeter.map(_.totals)
      val catBefore = meters.catalyst.map(c => (c.queries, c.planMs))
      if (traced) Heap.reset()
      val t0 = tracer.nowNs
      wl.run(ctx, out)
      val t1 = tracer.nowNs
      meters.drain()
      val sparkDelta = meters.sparkMeter.map(m => m.totals - sparkBefore.get)
      val catDelta = meters.catalyst.map(c => (c.queries - catBefore.get._1,
        c.planMs - catBefore.get._2))
      val phaseJobs = meters.sparkMeter.map(_.jobsBetween(t0, t1)).getOrElse(Nil)

      wl.rerun(ctx, out)
      wl.verify(ctx, out)
      wl.close(ctx)
      val heapMb = if (traced) Heap.peakMb else 0.0
      val tmpLeft = (tmpEntries() -- tmpBefore).toSeq.sorted
      val leftovers = Map(
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "active_streams" -> spark.streams.active.length,
        "temp_dirs" -> tmpLeft.size)

      val storeBytes = wl.storeDirs(ctx).map(Workload.dirStats(_)._2).sum
      val failedChecks = out.checks.count(!_._2)
      val attempted = out.requests + out.checks.size
      val failed = out.failedRequests + failedChecks
      val lat = out.latencies.toSeq.sorted
      val metrics = mutable.LinkedHashMap[String, Double]()
      if (!traced) {
        metrics ++= Seq(
          "setup_s" -> setupS,
          "wall_s" -> out.wallS,
          "req_p50_s" -> quantile(lat, 0.50),
          "req_p75_s" -> quantile(lat, 0.75),
          "rerun_s" -> out.rerunS,
          "store_mb" -> storeBytes / 1048576.0,
          "ok_ratio" -> (1.0 - failed.toDouble / math.max(1, attempted)))
      } else {
        metrics ++= layerMetrics(tracer, out, sparkDelta.get, catDelta.get, phaseJobs,
          cores, heapMb, leftovers)
      }
      out.checks.filterNot(_._2).foreach { case (n, _, d) =>
        println(s"perfbench: CHECK FAILED $n: $d")
      }
      if (traced) tracer.writeJsonl(Paths.get(arg("spans")),
        meters.sparkMeter.get.jobsBetween(Long.MinValue, Long.MaxValue))

      val result = Json.obj(
        "workload" -> wl.name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> traced, "cores" -> cores,
        "jvm" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "sizes" -> out.sizes,
        "setup_parts_s" -> Map("session" -> sessionS, "reps" -> setups),
        "generate_s" -> genS, "warmup_s" -> warmupS,
        "requests" -> out.requests, "failed_requests" -> out.failedRequests,
        "latency_samples" -> lat.size, "latencies_s" -> out.latencies,
        "samples_beyond_p75" -> lat.count(_ > quantile(lat, 0.75)),
        "checks" -> out.checks.size, "failed_checks" -> failedChecks,
        "check_names" -> out.checks.map(c => c._1.takeWhile(_ != '[')).distinct,
        "attempted" -> attempted, "failed" -> failed,
        "fail_ratio" -> failed.toDouble / math.max(1, attempted),
        "leftovers" -> leftovers, "temp_left" -> tmpLeft,
        "metrics" -> metrics)
      println("PERFBENCH_RESULT " + result)
    } finally spark.stop()
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val tmp = work.resolve("tmp")
    Files.createDirectories(tmp)
    graft.GraftSession.tune(SparkSession.builder())
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  private def tmpEntries(): Set[String] = {
    val d = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSet
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted samples. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** The traced run's per-layer metrics. */
  private def layerMetrics(t: Tracer, out: Outcome, s: Totals,
                           cat: (Int, Long), jobs: Seq[JobRec], cores: Int,
                           heapMb: Double,
                           leftovers: Map[String, Int]): Seq[(String, Double)] = {
    val timed = t.spans.filterNot(sp => sp.req.startsWith("setup") || sp.req.startsWith("rerun"))
    def sum(name: String) = timed.filter(_.name == name).map(_.seconds).sum
    val self = t.selfSeconds(jobs)
    val runnerCalls = Set("llm.activations", "ml.train", "ml.predict", "ml.eval",
      "ext.quality", "ext.minhash", "ext.dedup", "ext.bpe_train", "ext.tokenize", "ext.pack")
    val hashSpans = t.spans.filter(_.name == "runner.hash").map(_.seconds).toSeq
    val busy = Intervals.covered(jobs.map(j => (j.startNs, j.endNs)),
      Long.MinValue, Long.MaxValue) / 1e9
    val mb = 1048576.0
    def layer(k: String) = out.layer.getOrElse(k, 0.0)
    Seq(
      "spec.build_s" -> sum("spec.build"),
      "spec.nodes" -> layer("spec.nodes"),
      "runner.hash_s" -> (if (hashSpans.isEmpty) 0.0 else median(hashSpans)),
      "runner.self_s" -> timed.filter(sp => runnerCalls(sp.name)).map(sp => self(sp.id)).sum,
      "runner.persisted" -> layer("runner.persisted"),
      "runner.store_files" -> layer("runner.store_files"),
      "runner.reuse_ratio" -> layer("runner.reuse_ratio"),
      "runner.store_hit_ratio" -> layer("runner.store_hit_ratio"),
      "llm.activations_s" -> sum("llm.activations"),
      "ml.train_s" -> sum("ml.train"),
      "ml.predict_s" -> sum("ml.predict"),
      "ml.eval_s" -> sum("ml.eval"),
      "ext.quality_s" -> sum("ext.quality"),
      "ext.minhash_s" -> sum("ext.minhash"),
      "ext.dedup_s" -> sum("ext.dedup"),
      "ext.bpe_train_s" -> sum("ext.bpe_train"),
      "ext.tokenize_s" -> sum("ext.tokenize"),
      "ext.pack_s" -> sum("ext.pack"),
      "ext.index_files" -> layer("ext.index_files"),
      "ext.index_mb" -> layer("ext.index_mb"),
      "streaming.batches" -> layer("streaming.batches"),
      "streaming.add_batch_s" -> layer("streaming.add_batch_s"),
      "streaming.trigger_overhead_s" -> layer("streaming.trigger_overhead_s"),
      "catalyst.plan_s" -> cat._2 / 1000.0,
      "catalyst.queries" -> cat._1.toDouble,
      "spark.jobs" -> s.jobs.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.tasks_per_job" -> (if (s.jobs > 0) s.tasks.toDouble / s.jobs else 0.0),
      "spark.busy_s" -> busy,
      "spark.driver_gap_s" -> math.max(0.0, out.wallS - busy),
      "spark.task_run_s" -> s.runMs / 1000.0,
      "spark.task_cpu_s" -> s.cpuNs / 1e9,
      "spark.gc_s" -> s.gcMs / 1000.0,
      "spark.core_util" -> (if (out.wallS > 0) s.runMs / 1000.0 / (out.wallS * cores) else 0.0),
      "spark.shuffle_write_mb" -> s.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> s.shuffleRead / mb,
      "spark.spill_mb" -> s.spill / mb,
      "spark.input_mb" -> s.input / mb,
      "spark.output_mb" -> s.output / mb,
      "jvm.heap_peak_mb" -> heapMb,
      "jvm.leaked_rdds" -> leftovers("persisted_rdds").toDouble,
      "jvm.active_streams" -> leftovers("active_streams").toDouble,
      "jvm.temp_dirs" -> leftovers("temp_dirs").toDouble,
      "trace.wall_s" -> out.wallS)
  }
}
