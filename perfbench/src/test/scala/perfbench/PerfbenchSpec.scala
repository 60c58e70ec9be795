package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest percentile with at least 10 calls beyond it") {
    val xs = (1 to 27).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.calls == 27 && t.beyond == 10)
    assert(t.value == 17.0)
    assert(math.abs(t.percentile - 100.0 * 17 / 27) < 1e-12)
  }

  test("tail needs more than 10 calls") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
  }

  test("a failed call counted as infinitely slow sits beyond the tail") {
    val xs = (1 to 20).map(_.toDouble) :+ Double.PositiveInfinity
    assert(Stats.tail(xs).get.value == 11.0)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, start: Long, end: Long, parent: Int) =
    Span(id, s"s$id", "l", start, end, parent, "r")

  test("self time counts overlapping children once") {
    val spans = Seq(span(0, 0, 100, -1), span(1, 10, 40, 0), span(2, 30, 60, 0), span(3, 80, 90, 0))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30 && self(2) == 30 && self(3) == 10)
  }

  test("children reaching outside the parent are clipped to it") {
    val spans = Seq(span(0, 100, 200, -1), span(1, 50, 120, 0), span(2, 190, 260, 0))
    assert(Trace.selfTimes(spans)(0) == 100 - 20 - 10)
  }

  test("grandchildren do not reduce the grandparent's self time") {
    val spans = Seq(span(0, 0, 100, -1), span(1, 0, 50, 0), span(2, 60, 70, 1))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 50 && self(1) == 50)
  }

  test("a tracer nests spans by call order and a disabled one records nothing") {
    val t = new Tracer("run", enabled = true)
    t.span("outer", "a")(t.span("inner", "b")(()))
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && outer.parent == -1 && inner.layer == "b")
    val off = new Tracer("run", enabled = false)
    off.span("x", "a")(())
    assert(off.spans.isEmpty)
  }
}

class JsonSpec extends AnyFunSuite {
  test("non-finite numbers are written as null at any depth") {
    val v = Json.obj("a" -> JDouble(Double.NaN), "b" -> Json.arr(Seq(JDouble(Double.PositiveInfinity), JDouble(1.5))),
      "c" -> Json.obj("d" -> JDouble(Double.NegativeInfinity)), "e" -> Json.num(Double.NaN))
    val s = Json.render(v)
    assert(s == """{"a":null,"b":[null,1.5],"c":{"d":null},"e":null}""")
    assert(!s.contains("NaN") && !s.contains("Infinity"))
  }

  test("finite values keep all their digits") {
    assert(Json.render(Json.obj("x" -> Json.num(0.1234567890123))) == """{"x":0.1234567890123}""")
  }
}

class ResultHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tmp.mkdirs()
    SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getAbsolutePath)
      .getOrCreate()
  }
  override def afterAll(): Unit = spark.stop()

  test("row hashes computed outside Spark match Spark's xxhash64") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, Array(1.5, -0.0, 0.0, Double.NaN, Double.NegativeInfinity), Array(true, false)),
      (7L, Array.empty[Double], Array(false)),
      (-3L, Array(1e300, -2.25), Array.empty[Boolean]))
    val df = rows.toDF("id", "r", "m")
    val b = new Digest.Builder
    rows.foreach { case (id, r, m) => b.add(H.bools(m, H.long(id, H.doubles(r, ResultHash.Seed)))) }
    // columns hash in name order: id, m, r
    val inOrder = new Digest.Builder
    rows.foreach { case (id, r, m) => inOrder.add(H.doubles(r, H.bools(m, H.long(id, ResultHash.Seed)))) }
    assert(ResultHash.of(df) == inOrder.result)
    assert(ResultHash.of(df) != b.result)
    val st = df.select(col("id"), struct(col("r"), lit(Array(2, 3))).as("z"))
    val sb = new Digest.Builder
    rows.foreach { case (id, r, _) => sb.add(H.ints(Array(2, 3), H.doubles(r, H.long(id, ResultHash.Seed)))) }
    assert(ResultHash.of(st) == sb.result)
  }

  test("the digest ignores row order and counts duplicates") {
    val s = spark
    import s.implicits._
    val a = Seq(1L, 2L, 3L, 3L).toDF("x")
    assert(ResultHash.of(a) == ResultHash.of(a.orderBy(col("x").desc).repartition(3)))
    assert(ResultHash.of(a) != ResultHash.of(Seq(1L, 2L, 3L).toDF("x")))
  }

  test("query_mix digests on sf0.001 are stable and match the recorded ones") {
    val expected = QueryMix.readExpected("expected/query_hashes.json")
    assert(expected.keySet == QueryMix.Queries.toSet)
    val w = new QueryMix(spark, 1L, "fixtures/sf0.001", expected)
    for (parts <- Seq("1", "3")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      QueryMix.Queries.foreach { q =>
        assert(w.digest(q) == expected(q), s"$q at $parts shuffle partitions")
      }
    }
  }
}
