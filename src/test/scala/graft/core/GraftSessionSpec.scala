package graft.core

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS parses to a positive Int; '*' and '0' fail naming " +
       "the variable") {
    assert(GraftSession.parseCpus(Some("8")) === 8)
    assert(GraftSession.parseCpus(None) === 32)
    for (bad <- Seq("*", "0")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(bad))
    }
  }
}
