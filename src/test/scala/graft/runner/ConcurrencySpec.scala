package graft.runner

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.spec._
import org.apache.spark.sql.functions._

/** The runner's memoization gate under concurrent driving: one compute per
  * uuid no matter how many threads ask, failures retryable (not cached),
  * and materializeAll overlapping independent subgraphs correctly. The
  * reference is strictly 1-thread op-at-a-time (`base_runner.py:159-258`);
  * a Spark runner serving several users must not be.
  */
class ConcurrencySpec extends SparkTestBase {

  import spark.implicits._
  import ConcurrencySpec._

  ensureRegistered()

  private lazy val runner =
    new LocalSparkRunner(spark, newStoreDir())

  private def inlineDs(n: Int): LoadInlineJsonDatasetOp =
    LoadInlineJsonDatasetOp(Map(
      "score" -> (0 until n).map(_.toDouble),
      "tag" -> (0 until n).map(i => s"t$i")))

  test("concurrent materialize of the SAME op computes once, all callers get the result") {
    computeCount.set(0)
    val op = CountingOp(SelectScoreColumnOp(inlineDs(8), "score"), marker = "same-op")
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futs = (0 until threads).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            start.await()
            runner.toFrame(op).count()
          }
        }))
      start.countDown()
      val counts = futs.map(_.get(120, TimeUnit.SECONDS))
      assert(counts.forall(_ == 8L))
      assert(computeCount.get() == 1,
        s"compute ran ${computeCount.get()} times for one uuid")
    } finally pool.shutdown()
  }

  test("a failed materialization is NOT cached: the retry recomputes and succeeds") {
    failuresLeft.set(1)
    val op = FlakyOp(SelectScoreColumnOp(inlineDs(4), "score"), marker = "retry")
    val e = intercept[RuntimeException] { runner.toFrame(op) }
    assert(e.getMessage.contains("injected"))
    // second attempt must re-enter compute (failure evicted from the memo)
    assert(runner.toFrame(op).count() == 4L)
  }

  test("materializeAll overlaps independent subgraphs with correct results") {
    val ds = inlineDs(16)
    val score = SelectScoreColumnOp(ds, "score")
    val ops: Seq[OpSpec] = Seq(
      CountingOp(score, marker = "fan-a"),
      CountingOp(score, marker = "fan-b"),
      CountingOp(score, marker = "fan-c"),
      CountingOp(score, marker = "fan-d"))
    val results = runner.materializeAll(ops, parallelism = 4)
    assert(results.length == 4)
    results.foreach {
      case FrameResult(df) => assert(df.count() == 16L)
      case other => fail(s"unexpected result $other")
    }
    // all four persisted under their own uuids with done markers
    ops.foreach(op => assert(runner.isDone(op)))
    // and a failure in the batch propagates
    failuresLeft.set(1)
    val bad = intercept[RuntimeException] {
      runner.materializeAll(Seq(FlakyOp(score, marker = "fan-bad")), 2)
    }
    assert(bad.getMessage.contains("injected"))
  }
}

/** Custom ops with instrumented implementations (same extension surface the
  * extensibility tests use). `marker` differentiates uuids per test. */
object ConcurrencySpec {

  final case class CountingOp(input: ScoreColumnType, marker: String)
    extends ScoreColumnType

  final case class FlakyOp(input: ScoreColumnType, marker: String)
    extends ScoreColumnType

  val computeCount = new AtomicInteger(0)
  val failuresLeft = new AtomicInteger(0)

  def ensureRegistered(): Unit = ()

  LocalSparkRunner.registerImplementation(classOf[CountingOp]) { (r, op0) =>
    val op = op0.asInstanceOf[CountingOp]
    computeCount.incrementAndGet()
    Thread.sleep(150) // widen the race window: all callers arrive mid-compute
    val in = r.toFrame(op.input)
    FrameResult(in.select(col(graft.ops.ColumnOps.RowIdx),
      (col(r.ValueCol).cast("double") * 2.0).as(r.ValueCol)))
  }

  LocalSparkRunner.registerImplementation(classOf[FlakyOp]) { (r, op0) =>
    val op = op0.asInstanceOf[FlakyOp]
    if (failuresLeft.getAndDecrement() > 0)
      throw new RuntimeException("injected failure")
    val in = r.toFrame(op.input)
    FrameResult(in.select(col(graft.ops.ColumnOps.RowIdx),
      col(r.ValueCol).cast("double").as(r.ValueCol)))
  }
}
