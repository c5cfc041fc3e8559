package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par.run]]'s interrupt contract: unstarted tasks are cancelled,
  * in-flight ones are awaited, then the interrupt is rethrown. */
class ParSpec extends AnyFunSuite {

  test("an interrupt while the first of three tasks runs on one thread " +
      "awaits it and never starts the other two") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val firstDone = new AtomicInteger(0)
    val othersRan = new AtomicInteger(0)
    val thrown = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try Par.run(1)(Seq(
        () => {
          started.countDown()
          // uninterruptible wait: the interrupt goes to the caller only
          var done = false
          while (!done)
            try { release.await(); done = true }
            catch { case _: InterruptedException => }
          firstDone.incrementAndGet()
        },
        () => othersRan.incrementAndGet(),
        () => othersRan.incrementAndGet()))
      catch { case t: Throwable => thrown.set(t) })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    // the caller keeps awaiting the in-flight task: it cannot finish
    // before that task does
    caller.join(500)
    assert(caller.isAlive, "Par.run returned before its in-flight task")
    release.countDown()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(firstDone.get === 1)
    assert(othersRan.get === 0)
    assert(thrown.get.isInstanceOf[InterruptedException], thrown.get)
  }

  test("without an interrupt every task runs and the first failure is " +
      "rethrown after all have settled") {
    val ran = new AtomicInteger(0)
    val e = intercept[IllegalStateException](Par.run(2)(Seq(
      () => { ran.incrementAndGet(); throw new IllegalStateException("a") },
      () => { ran.incrementAndGet() },
      () => { ran.incrementAndGet() })))
    assert(e.getMessage === "a")
    assert(ran.get === 3)
  }
}
