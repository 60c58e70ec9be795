package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Harness

class HarnessSpec extends AnyFunSuite {
  test("core count: SPARK_GRAFT_CPUS when a positive integer, else every core the JVM sees") {
    assert(Harness.cores(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.cores(Some("6")) == 6)
    for (bad <- Seq("0", "-2", "x")) {
      val e = intercept[IllegalArgumentException](Harness.cores(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("quiet waits: SPARK_GRAFT_QUIET_WAITS when a non-negative integer, else the harness default") {
    assert(Harness.quietWaits(6, None) == 6)
    assert(Harness.quietWaits(6, Some("0")) == 0)
    assert(Harness.quietWaits(4, Some("2")) == 2)
    for (bad <- Seq("-1", "x")) {
      val e = intercept[IllegalArgumentException](Harness.quietWaits(6, Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_QUIET_WAITS"), bad)
    }
  }
}
