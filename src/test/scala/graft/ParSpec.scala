package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import graft.core.Par

class ParSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("results come back in task order, not completion order") {
    val tasks = (0 until 6).map(i => () => { Thread.sleep(10L * (6 - i)); i })
    assert(Par.all(tasks) == (0 until 6))
  }

  test("a fast failing task does not return control before a slow sibling settles") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.all(Seq(
      () => throw new IllegalStateException("fast"),
      () => { Thread.sleep(300); slowDone.set(true) })))
    assert(e.getMessage == "fast")
    assert(slowDone.get(), "Par.all threw while a sibling task was still running")
  }

  test("two failures: the first in task order is thrown, the other is suppressed") {
    val first = new StackOverflowError("first")
    val second = new IllegalArgumentException("second")
    val thrown = intercept[StackOverflowError](Par.all(Seq(
      () => { Thread.sleep(100); throw first },
      () => throw second,
      () => 3)))
    assert(thrown eq first, "the first failure must be rethrown unwrapped")
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }

  test("a single task runs on the calling thread") {
    val caller = Thread.currentThread()
    assert(Par.all(Seq(() => Thread.currentThread())) == Seq(caller))
    val e = intercept[IllegalStateException](
      Par.all(Seq(() => throw new IllegalStateException("one"))))
    assert(e.getMessage == "one")
  }

  test("no more than width tasks run at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val tasks = (0 until 10).map(i => () => {
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(50)
      running.decrementAndGet()
      i
    })
    assert(Par.all(tasks, width = 3) == (0 until 10))
    assert(peak.get() <= 3, s"peak concurrency ${peak.get()} exceeds width 3")
    assert(peak.get() >= 2, s"peak concurrency ${peak.get()}: tasks did not overlap")
  }
}
