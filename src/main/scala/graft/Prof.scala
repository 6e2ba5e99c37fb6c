package graft

/** Profiling utility: run one named query (repeatedly) against an sf dir
  * with the same forced-evaluation sink as Bench, and print per run its
  * wall seconds, its Spark job count and, longest first, the runner ops it
  * computed (each op's seconds include the inputs it resolved first). The
  * job count is the direct evidence for fixed-overhead work that a
  * wall-clock number hides under box noise. Optionally prints the formatted
  * plan. A comma-separated name list runs the whole sequence in order
  * within one JVM (for measuring cross-query interaction: does query A
  * degrade a later query B's steady-state?). Usage:
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
    val meter = Meter(spark)
    (1 to reps).foreach { i =>
      names.foreach { n =>
        val before = meter.read()
        meter.ops() // drop op events posted before this run (the explain)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[prof] $n run $i: $secs%.2f s jobs=${(meter.read() - before).jobs}")
        meter.ops().filter(_.outcome == Meter.Computed).sortBy(-_.seconds).foreach { e =>
          println(f"[prof]   ${e.seconds}%7.2f s ${e.opClass} ${e.uuid}")
        }
      }
    }
    spark.stop()
  }
}
