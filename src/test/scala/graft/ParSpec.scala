package graft

import graft.operators.Par

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** `Par.buildAll`'s failure contract: the first failure is rethrown
  * as-is and cancels its siblings.
  */
class ParSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("buildAll: a failing build cancels its siblings — no sibling " +
    "body starts after the failure, and the original exception is the " +
    "one rethrown") {
    val parallelism = 4
    val running = new CountDownLatch(parallelism - 1)
    val release = new CountDownLatch(1)
    val failed = new AtomicBoolean(false)
    val started = new AtomicInteger(0)
    val lateStarts = new AtomicInteger(0)
    val boom = new IllegalStateException("build 0 failed")
    val thrown = intercept[IllegalStateException] {
      Par.buildAll(0 until 12, parallelism) { i =>
        if (i == 0) {
          // fail only once every other pool thread holds a running body
          assert(running.await(30, TimeUnit.SECONDS))
          failed.set(true)
          throw boom
        }
        if (failed.get()) lateStarts.incrementAndGet()
        started.incrementAndGet()
        running.countDown()
        release.await(30, TimeUnit.SECONDS)
        i
      }
    }
    release.countDown()
    assert(thrown eq boom)
    Thread.sleep(200) // a leaked queued body would start in this window
    assert(lateStarts.get() == 0, "a sibling body started after the failure")
    assert(started.get() == parallelism - 1)
  }

  test("buildAll: results keep item order") {
    assert(Par.buildAll(1 to 9, 3)(i => { Thread.sleep(10L * (9 - i)); i * i }) ==
      (1 to 9).map(i => i * i))
  }
}
