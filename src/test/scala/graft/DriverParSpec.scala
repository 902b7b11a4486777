package graft

import graft.format.DriverPar
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}

class DriverParSpec extends AnyFunSuite {

  test("parMap keeps input order") {
    assert(DriverPar.parMap(0 until 40, threads = 4) { i =>
      Thread.sleep((40 - i) % 7L); i * 2
    } == (0 until 40).map(_ * 2))
  }

  test("parMap fails fast: the first failure is rethrown, blocked items are interrupted") {
    val n = 6
    val started = new CountDownLatch(n - 1)
    val interrupted = new CountDownLatch(n - 1)
    val never = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        DriverPar.parMap(0 until n, threads = n) { i =>
          if (i == 0) {
            // fail only once every other item is running and blocked
            started.await(10, TimeUnit.SECONDS)
            throw new IllegalStateException("item 0 failed")
          }
          started.countDown()
          try { never.await(); i }
          catch { case ie: InterruptedException => interrupted.countDown(); throw ie }
        }
      }
      assert(e.getMessage == "item 0 failed")
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(waitedMs < 10000L, s"parMap returned after $waitedMs ms")
      assert(interrupted.await(10, TimeUnit.SECONDS),
        s"${interrupted.getCount} of ${n - 1} blocked items were never interrupted")
    } finally never.countDown()
  }
}
