package graft.spark

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

/** The driver's one concurrent-job helper: results in order, at most
  * `limit` in flight, and a failure surfaces only after every sibling
  * has settled (a fail-fast rethrow would leave stragglers holding cores
  * while the caller moves on).
  */
class DriverJobsSpec extends AnyFunSuite {

  test("a failure is rethrown only after every sibling job has settled") {
    val siblingDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val thrown = intercept[IllegalStateException] {
      DriverJobs.run(3, Seq[() => Int](
        () => throw first,
        () => { Thread.sleep(300); siblingDone.set(true); 1 },
        () => { Thread.sleep(100); throw new IllegalStateException("second") }))
    }
    assert(siblingDone.get, "the helper threw while a sibling job was still running")
    assert(thrown eq first)
  }

  test("results come back in job order with at most `limit` jobs in flight") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val out = DriverJobs.run(2, (0 until 6).map(i => () => {
      peak.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(30L * (6 - i))
      inFlight.decrementAndGet()
      i * 10
    }))
    assert(out == (0 until 6).map(_ * 10))
    assert(peak.get == 2)
  }

  test("limit 1 runs in order on the calling thread and stops at the first failure") {
    val caller = Thread.currentThread()
    val ran = new AtomicInteger(0)
    intercept[RuntimeException] {
      DriverJobs.run(1, Seq[() => Unit](
        () => { assert(Thread.currentThread() eq caller); ran.incrementAndGet() },
        () => throw new RuntimeException("stop"),
        () => ran.incrementAndGet()))
    }
    assert(ran.get == 1)
  }
}
