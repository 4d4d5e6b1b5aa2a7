package graft

import graft.operators.Par
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("buildAll: the first failure is rethrown and no queued sibling " +
    "starts after it") {
    val started = new AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      Par.buildAll(Seq(0, 1, 2), parallelism = 1) { i =>
        if (i == 0) throw new IllegalStateException("item 0 failed")
        started.incrementAndGet()
      }
    }
    assert(err.getMessage == "item 0 failed")
    Thread.sleep(200) // a leaked sibling would have run by now
    assert(started.get() == 0, "siblings queued behind the failure ran")
  }

  test("buildAll: a running sibling is interrupted when another item " +
    "fails, and results keep item order on success") {
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    intercept[IllegalStateException] {
      Par.buildAll(Seq(0, 1), parallelism = 2) { i =>
        if (i == 0) {
          gate.countDown()
          try Thread.sleep(30000)
          catch { case _: InterruptedException => interrupted.countDown() }
        } else {
          gate.await()
          throw new IllegalStateException("item 1 failed")
        }
      }
    }
    assert(interrupted.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "the running sibling was not interrupted")
    assert(Par.buildAll(Seq(3, 1, 2))(_ * 10) == Seq(30, 10, 20))
  }
}
