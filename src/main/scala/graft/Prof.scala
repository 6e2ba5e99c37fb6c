package graft

/** Profiling utility: run one named query (repeatedly) against an sf dir
  * with the same forced-evaluation sink as Bench, print per-run seconds, and
  * optionally the formatted plan. A comma-separated name list runs the whole
  * sequence in order within one JVM (for measuring cross-query interaction:
  * does query A degrade a later query B's steady-state?). Usage:
  *   runMain graft.Prof <name>[,<name>...] [sfDir] [reps] [explain]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val explain = args.length > 3 && args(3) == "explain"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = name.split(',').toSeq
    if (explain) SparkEntry.queries(names.head)(spark, sfDir).explain("formatted")
    // per-run Spark JOB count (round 21): the stored-index/streaming
    // queries are latency-bound by driver round-trips (tiny meta reads,
    // collects, commit writes), so the job count is the direct evidence
    // for fixed-overhead optimizations that a wall-clock number hides
    // under box noise
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    (1 to reps).foreach { i =>
      names.foreach { n =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain (coarse; dev tool)
        println(f"[prof] $n run $i: $secs%.2f s jobs=${jobs.get() - j0}")
      }
    }
    spark.stop()
  }
}
