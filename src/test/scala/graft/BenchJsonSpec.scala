package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchJsonSpec extends AnyFunSuite {
  test("bench numbers: fixed decimals when finite, null when NaN or infinite") {
    assert(Bench.jsonNum(1.234567, 2) == "1.23")
    assert(Bench.jsonNum(12.4, 0) == "12")
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      assert(Bench.jsonNum(v, 2) == "null", s"$v")
    // a per-query map with a failed (NaN) entry still parses as JSON
    val line = Seq("q_ok" -> 0.5, "q_failed" -> Double.NaN)
      .map { case (k, v) => "\"" + k + "\":" + Bench.jsonNum(v, 2) }.mkString("{", ",", "}")
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \ "q_failed") == org.json4s.JNull)
    assert((parsed \ "q_ok") == org.json4s.JDouble(0.5))
  }
}
