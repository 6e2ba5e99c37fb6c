package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentlySpec extends AnyFunSuite {

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
}
