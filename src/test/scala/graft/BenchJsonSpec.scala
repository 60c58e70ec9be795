package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Harness

class BenchJsonSpec extends AnyFunSuite {
  test("bench numbers: fixed decimals when finite, null when NaN or infinite") {
    assert(Harness.json(Harness.num(1.234567, 2)) == "1.23")
    assert(Harness.json(Harness.num(12.4, 0)) == "12")
    assert(Harness.json(Harness.num(0.5, 4)) == "0.5000")
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      assert(Harness.num(v, 2) == JNull, s"$v")
    // a per-query map with a failed (NaN) entry still parses as JSON
    val line = Harness.json(JObject("q_ok" -> Harness.num(0.5, 2), "q_failed" -> Harness.num(Double.NaN, 2)))
    val parsed = parse(line)
    assert((parsed \ "q_failed") == JNull)
    assert((parsed \ "q_ok") == JDouble(0.5))
  }

  test("a failed rep is no time: null in query_reps with its error, never the published min") {
    val failed = Bench.timeRep(throw new IllegalStateException("gate \"did not fire\""))
    assert(failed.sec.isNaN && failed.error.contains("gate \"did not fire\""))
    val ok = Bench.timeRep(Thread.sleep(20))
    assert(ok.error.isEmpty && ok.sec >= 0.02)
    // the published time is the fastest SUCCESSFUL rep, however fast the
    // failure was, and null when no rep succeeded
    assert(Bench.bestRep(Seq(failed, ok)) == ok.sec)
    assert(Bench.bestRep(Seq(failed, failed)).isNaN)
    assert(Harness.num(Bench.bestRep(Seq(failed)), 4) == JNull)
    val entry = parse(Harness.json(Bench.repsJson(Seq(ok, failed), Some(3.5))))
    assert((entry \ "reps") match {
      case JArray(List(JDouble(v), JNull)) => v == Harness.json(Harness.num(ok.sec, 3)).toDouble
      case other => fail(s"reps: $other")
    })
    assert((entry \ "errors") == JArray(List(JString("gate \"did not fire\""))))
    assert((entry \ "eff") == JDouble(3.5))
    val clean = parse(Harness.json(Bench.repsJson(Seq(ok), None)))
    assert((clean \ "errors") == JNothing && (clean \ "eff") == JNothing)
  }

  test("bench records parse and keep a quoted sf path and an op with NaN reps") {
    val sf = "/data/sf \"0.1\" \\ copy"
    val rec = Bench.OpRec(Double.NaN, Double.NaN, Array(Double.NaN, Double.NaN), Array(3L, 4L),
      0.5, Double.NaN, 2, "router:x")
    val ok = Bench.OpRec(0.25, 4.0, Array(0.25, 0.5), Array(0L, 0L), 3.0, 3.0, 1, "")
    val (full, last) = Bench.records(Seq("q1" -> 1.23456, "q2" -> Double.NaN),
      Seq("q1" -> Bench.repsJson(Seq(Bench.Rep(1.23456, 7L, None)), None)),
      Seq("bad" -> rec, "ok" -> ok), List("conf_cores" -> JInt(4)), sf)
    val f = parse(Harness.json(full))
    val l = parse(Harness.json(last))
    for (r <- Seq(f, l)) {
      assert((r \ "sf") == JString(sf))
      assert((r \ "value") == JNull) // a failed query makes the total unknown
      assert((r \ "conf_cores") == JInt(4))
      assert((r \ "queries" \ "q2") == JNull)
    }
    assert((f \ "queries" \ "q1") == JDouble(1.2346))
    assert((l \ "queries" \ "q1") == JDouble(1.23))
    assert((f \ "query_reps" \ "q1" \ "gc_ms") == JArray(List(JInt(7))))
    assert((l \ "query_reps") == JNothing)
    assert((f \ "ops" \ "bad" \ "reps") == JArray(List(JNull, JNull)))
    assert((f \ "ops" \ "bad" \ "sec") == JNull && (f \ "ops" \ "bad" \ "eff_post") == JNull)
    assert((f \ "ops" \ "bad" \ "route") == JString("router:x"))
    assert((f \ "ops" \ "ok" \ "route") == JNothing)
    // compact ops: reps only when the spread exceeds 1.5x, att only when > 1
    assert((l \ "ops" \ "bad" \ "reps") == JNothing && (l \ "ops" \ "bad" \ "att") == JInt(2))
    assert((l \ "ops" \ "ok" \ "reps") == JArray(List(JDouble(0.25), JDouble(0.5))))
    assert((l \ "ops" \ "ok" \ "att") == JNothing)
    // field order is part of the driver contract
    assert(full.obj.map(_._1) == List("metric", "value", "unit", "queries", "query_reps", "ops", "conf_cores", "sf"))
    assert(Harness.json(last).startsWith("{\"metric\":\"total\",\"value\":null,\"unit\":\"sec\",\"queries\":{\"q1\":1.23,"))
  }

  test("oracle SQL with a tab, a CR and a quote round-trips through oracle_sql.json") {
    val sql = Map("q_a" -> "SELECT\t1 AS \"x\"\r\nFROM t WHERE s = 'a\\b'", "q_b" -> "SELECT 2")
    val parsed = parse(Verify.oracleJson(sql))
    assert(parsed == JObject(sql.map { case (k, v) => k -> JString(v) }.toList))
  }
}
