package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase

class ConcurrentlySpec extends SparkTestBase {

  test("concurrently settles every leg before rethrowing the first failure") {
    // one leg fails at once while its sibling is still running: the
    // helper must not return before the sibling finishes its effect
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](ColumnOps.concurrently(
      () => throw new IllegalStateException("first leg"),
      () => { Thread.sleep(500); siblingDone.set(true) }))
    assert(e.getMessage == "first leg")
    assert(siblingDone.get, "the helper returned while a leg still ran")
    assert(ColumnOps.concurrently(() => 1, () => 2) == Seq(1, 2))
  }

  test("a leg's Spark jobs carry the caller's job group, not its pool thread's") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    // pool threads inherit local properties when they are created: let a
    // thread under another group create them first
    val other = new Thread(() => {
      sc.setJobGroup("other", "pool threads created here")
      ColumnOps.concurrently((1 to 8).map(_ => () => Thread.sleep(200)): _*)
      ()
    })
    other.start(); other.join()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("mine", "the caller")
      try {
        val seen = ColumnOps.concurrently(
          () => { spark.range(10).count(); sc.getLocalProperty("spark.jobGroup.id") },
          () => { spark.range(20).count(); sc.getLocalProperty("spark.jobGroup.id") })
        assert(seen == Seq("mine", "mine"))
      } finally sc.clearJobGroup()
      org.apache.spark.GraftBus.drain(sc)
      assert(groups.size >= 2 && groups.toArray.forall(_ == "mine"),
        s"leg jobs ran under groups ${groups.toArray.toSeq}")
      // a caller without a group gives its legs none
      assert(ColumnOps.concurrently(
        () => sc.getLocalProperty("spark.jobGroup.id")) == Seq(null))
    } finally sc.removeSparkListener(listener)
  }
}
