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

  test("a failed rep is no time: null in query_reps with its error, never the published min") {
    import org.json4s._
    val failed = Bench.timeRep(throw new IllegalStateException("gate \"did not fire\""))
    assert(failed.sec.isNaN && failed.error.contains("gate \"did not fire\""))
    val ok = Bench.timeRep(Thread.sleep(20))
    assert(ok.error.isEmpty && ok.sec >= 0.02)
    // the published time is the fastest SUCCESSFUL rep, however fast the
    // failure was, and null when no rep succeeded
    assert(Bench.bestRep(Seq(failed, ok)) == ok.sec)
    assert(Bench.bestRep(Seq(failed, failed)).isNaN)
    assert(Bench.jsonNum(Bench.bestRep(Seq(failed)), 4) == "null")
    val entry = org.json4s.jackson.JsonMethods.parse(Bench.repsJson(Seq(ok, failed), Some(3.5)))
    assert((entry \ "reps") match {
      case JArray(List(JDouble(v), JNull)) => v == Bench.jsonNum(ok.sec, 3).toDouble
      case other => fail(s"reps: $other")
    })
    assert((entry \ "errors") == JArray(List(JString("gate \"did not fire\""))))
    assert((entry \ "eff") == JDouble(3.5))
    val clean = org.json4s.jackson.JsonMethods.parse(Bench.repsJson(Seq(ok), None))
    assert((clean \ "errors") == JNothing && (clean \ "eff") == JNothing)
  }
}
