package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench timing protocol's failure contract: a query that fails is a
  * recorded `ok = false` sample, but a fatal JVM error must stop the run
  * instead of being filed as one more failed row. */
class TimingSpec extends AnyFunSuite {

  test("timeOnce: a non-fatal builder failure is a failed sample, a fatal one propagates") {
    val failed = Timing.timeOnce(throw new IllegalStateException("probe"))
    assert(!failed.ok)
    assert(failed.err === "probe")
    assert(failed.rows === -1L)
    val oom = intercept[OutOfMemoryError] {
      Timing.timeOnce(throw new OutOfMemoryError("probe"))
    }
    assert(oom.getMessage === "probe")
  }
}
