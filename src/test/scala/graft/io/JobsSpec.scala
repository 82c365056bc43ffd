package graft.io

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class JobsSpec extends AnyFunSuite {

  test("concurrently returns results in input order") {
    // later thunks finish first
    val out = Jobs.concurrently((0 until 6).map(i => () => { Thread.sleep(10L * (6 - i)); i }),
      maxParallel = 6)
    assert(out == (0 until 6))
  }

  test("a failing thunk's error escapes only after every running sibling finished") {
    val siblings = 3
    val started = new CountDownLatch(siblings)
    val finished = new AtomicInteger()
    val sibling = () => {
      started.countDown()
      Thread.sleep(300)
      finished.incrementAndGet()
    }
    val failing = () => {
      assert(started.await(10, TimeUnit.SECONDS))
      throw new IllegalStateException("injected")
    }
    val e = intercept[IllegalStateException] {
      Jobs.concurrently(failing +: Seq.fill(siblings)(sibling), maxParallel = siblings + 1)
    }
    assert(e.getMessage == "injected")
    assert(finished.get == siblings)
  }

  test("after a failure, thunks that have not started are skipped") {
    val ran = new AtomicInteger()
    val thunks = Seq(
      () => throw new IllegalStateException("injected"),
      () => Thread.sleep(300)) ++ Seq.fill(4)(() => { ran.incrementAndGet(); () })
    intercept[IllegalStateException](Jobs.concurrently(thunks, maxParallel = 2))
    assert(ran.get == 0)
  }

  test("a cap of 1 runs the thunks one at a time") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val out = Jobs.concurrently((0 until 5).map(i => () => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20)
      running.decrementAndGet()
      i
    }), maxParallel = 1)
    assert(out == (0 until 5))
    assert(peak.get == 1)
  }

  test("the cap parser falls back to the default on a malformed or non-positive value") {
    assert(Jobs.parseCap(None, 8) == 8)
    assert(Jobs.parseCap(Some("3"), 8) == 3)
    assert(Jobs.parseCap(Some(" 1 "), 8) == 1)
    for (bad <- Seq("", "abc", "2.5", "0", "-4", "99999999999"))
      assert(Jobs.parseCap(Some(bad), 8) == 8, s"'$bad'")
  }
}
