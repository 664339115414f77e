package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("stopFails: a clean stop is false, a non-fatal error is recorded as true") {
    assert(!Bench.stopFails(()))
    assert(Bench.stopFails(throw new IllegalStateException("stop failed")))
  }

  test("stopFails: a fatal error is not swallowed") {
    intercept[InterruptedException](Bench.stopFails(throw new InterruptedException("stop")))
  }
}
