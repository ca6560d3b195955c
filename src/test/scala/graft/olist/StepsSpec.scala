package graft.olist

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.{Duration => ScalaDuration}
import scala.jdk.CollectionConverters._
import Steps.step

/** The layer step runner: dependency order, real overlap, failure
  * isolation and reporting, and no hang on a fatal error. */
class StepsSpec extends AnyFunSuite with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  /** Waits at most 10 s for `latch`; false if it never opened. */
  private def await(latch: CountDownLatch): Boolean = latch.await(10, TimeUnit.SECONDS)

  test("a step starts only after its dependencies have ended") {
    val log = new ConcurrentLinkedQueue[String]()
    val aStarted, release = new CountDownLatch(1)
    val run = Future(Steps.run(Seq(
      step("a") { aStarted.countDown(); assert(await(release)); log.add("a end"); 1 },
      step("b", "a") { log.add("b start"); 2 })))
    assert(await(aStarted))
    assert(log.isEmpty, "b started while a was still running")
    release.countDown()
    assert(Await.result(run, ScalaDuration(30, "s")) == Seq("a" -> 1, "b" -> 2))
    assert(log.asScala.toSeq == Seq("a end", "b start"))
  }

  test("two independent steps overlap, and results keep input order") {
    val aIn, bIn = new CountDownLatch(1)
    failAfter(30.seconds) {
      // each step waits for the other to have started: only a concurrent
      // run lets both return true
      val out = Steps.run(Seq(
        step("a") { aIn.countDown(); await(bIn) },
        step("b") { bIn.countDown(); await(aIn) }))
      assert(out == Seq("a" -> true, "b" -> true))
    }
  }

  test("a failed step fails its dependents without running them; independent steps finish") {
    val boom = new RuntimeException("boom")
    val failing = new CountDownLatch(1)
    val dependentRan, independentDone = new AtomicBoolean(false)
    val thrown = intercept[RuntimeException] {
      Steps.run(Seq(
        step("a") { failing.countDown(); throw boom },
        step("b", "a") { dependentRan.set(true); 2 },
        // still busy when a fails: the run must wait for it, not return
        // on the first failure
        step("c") { assert(await(failing)); Thread.sleep(200); independentDone.set(true); 3 }))
    }
    assert(thrown eq boom)
    assert(!dependentRan.get)
    assert(independentDone.get)
  }

  test("the first failure in input order is the one rethrown") {
    val early, late = new RuntimeException("input order")
    val laterFailed = new CountDownLatch(1)
    val thrown = intercept[RuntimeException] {
      Steps.run(Seq(
        step("first") { assert(await(laterFailed)); throw early },
        step("second") { laterFailed.countDown(); throw late }))
    }
    assert(thrown eq early)
  }

  test("a fatal Throwable fails the run instead of hanging it") {
    failAfter(30.seconds) {
      val dependentRan = new AtomicBoolean(false)
      intercept[LinkageError] {
        Steps.run(Seq(
          step("a")(throw new LinkageError("fatal")),
          step("b", "a") { dependentRan.set(true); 2 }))
      }
      assert(!dependentRan.get)
    }
  }

  test("an unknown or later-listed dependency is rejected before any step runs") {
    val ran = new AtomicBoolean(false)
    intercept[IllegalArgumentException] {
      Steps.run(Seq(step("a", "missing") { ran.set(true); 1 }))
    }
    intercept[IllegalArgumentException] {
      Steps.run(Seq(step("a", "b") { ran.set(true); 1 }, step("b") { ran.set(true); 2 }))
    }
    assert(!ran.get)
  }
}
