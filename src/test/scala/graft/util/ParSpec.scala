package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ParSpec extends AnyFunSuite with Matchers {

  test("more bodies than cores are in flight together") {
    // each body waits (without signalling `blocking` itself, like Spark's
    // job wait) until every body has started: on a pool capped at the core
    // count the extra bodies would queue and the waits would time out
    val n = Runtime.getRuntime.availableProcessors() + 2
    val started = new CountDownLatch(n)
    val fs = (1 to n).map { _ =>
      Par { started.countDown(); started.await(20, TimeUnit.SECONDS) }
    }
    fs.map(Par.await(_)) shouldBe Seq.fill(n)(true)
  }

  test("awaitAll lets every body finish before it rethrows the first failure") {
    val slowDone = new AtomicBoolean(false)
    val failing = Par[Unit](throw new IllegalStateException("boom"))
    val slow = Par { Thread.sleep(300); slowDone.set(true) }
    intercept[IllegalStateException](Par.awaitAll(failing, slow)).getMessage shouldBe "boom"
    slowDone.get shouldBe true
  }
}
