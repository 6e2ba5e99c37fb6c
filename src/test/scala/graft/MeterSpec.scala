package graft

import org.apache.spark.GraftBus
import org.apache.spark.sql.functions.col

/** The session meter's readings are exact: each one drains the listener
  * bus first, so a repeated query reads the same counts and a posted event
  * is visible as soon as the posting call returns. */
class MeterSpec extends SparkTestBase {

  private def metered[T](body: Meter => T): T = {
    val meter = Meter(spark)
    try body(meter)
    finally spark.sparkContext.removeSparkListener(meter)
  }

  test("a repeated shuffling query reads the same jobs and shuffle bytes") {
    metered { meter =>
      def run(): Meter.Reading = {
        val before = meter.read()
        spark.range(0, 20000, 1, 4)
          .groupBy((col("id") % 97).as("k")).count()
          .write.format("noop").mode("overwrite").save()
        meter.read() - before
      }
      val first = run()
      val second = run()
      assert(first.jobs > 0 && first.shuffleBytes > 0)
      assert(second == first)
    }
  }

  test("posted op events are readable right after the post, in order") {
    metered { meter =>
      meter.ops() // events posted before the meter was added may still arrive
      val posted = (0 until 500).map(i =>
        Meter.OpEvent("SomeOp", s"uuid-$i", i / 10.0,
          if (i % 2 == 0) Meter.Computed else Meter.MemoHit))
      posted.foreach(GraftBus.post(spark.sparkContext, _))
      assert(meter.ops() == posted)
      assert(meter.ops().isEmpty)
    }
  }
}
