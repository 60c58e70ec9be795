package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, Interp1dJoin}
import graft.functions.{TextFunctions, SimilarityFunctions}

object SharedSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

class AsOfJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("picks the greatest right time <= left time per key") {
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"), (3L, 50L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 6L, 300L))
      .toDF("k", "rt", "pay")
    val out = AsOfJoin(left, right, "k", "k", "t", "rt", "pay", "matched")
      .select("tag", "matched").as[(String, Option[Long])].collect().toMap
    assert(out("a").contains(100L)) // inclusive <= at equal time
    assert(out("b").contains(200L))
    assert(out("c").isEmpty)        // right time 6 > left 5
    assert(out("d").isEmpty)        // no right rows for key 3
  }

  test("ties on (key, time) resolve to max payload deterministically") {
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 7L), (1L, 5L, 9L)).toDF("k", "rt", "pay")
    val out = AsOfJoin(left, right, "k", "k", "t", "rt", "pay", "m")
      .select("m").as[Long].collect()
    assert(out.sameElements(Array(9L)))
  }

  test("forward picks the least right time >= left time, inclusive") {
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 4L, 300L))
      .toDF("k", "rt", "pay")
    val out = AsOfJoin(left, right, "k", "k", "t", "rt", "pay", "m", "forward")
      .select("tag", "m").as[(String, Option[Long])].collect().toMap
    assert(out("a").contains(100L)) // inclusive >= at equal time
    assert(out("b").isEmpty)        // nothing at or after 25
    assert(out("c").isEmpty)        // right time 4 < left 5
  }

  test("nearest is exact on timestamp_ntz time columns") {
    import java.time.LocalDateTime
    val left = Seq((1L, LocalDateTime.of(2024, 1, 1, 10, 0))).toDF("k", "t")
    val right = Seq((1L, LocalDateTime.of(2024, 1, 1, 9, 0), 100L),
        (1L, LocalDateTime.of(2024, 1, 1, 13, 0), 200L)).toDF("k", "rt", "pay")
    val out = AsOfJoin(left, right, "k", "k", "t", "rt", "pay", "m", "nearest")
      .select("m").as[Long].collect()
    assert(out.sameElements(Array(100L)), "1h back beats 3h forward")
  }

  test("nearest picks the smaller distance, ties go backward") {
    val left = Seq((1L, 10L, "near_b"), (1L, 18L, "near_f"),
        (1L, 15L, "tie"), (1L, 100L, "only_b"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 9L, 100L), (1L, 21L, 200L)).toDF("k", "rt", "pay")
    val out = AsOfJoin(left, right, "k", "k", "t", "rt", "pay", "m", "nearest")
      .select("tag", "m").as[(String, Option[Long])].collect().toMap
    assert(out("near_b").contains(100L)) // |10-9| < |21-10|
    assert(out("near_f").contains(200L)) // |18-21| < |18-9|
    assert(out("tie").contains(100L))    // |15-9| == |21-15| -> backward
    assert(out("only_b").contains(200L)) // no forward match -> backward (rt=21)
  }
}

class IntervalJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("emits every overlapping pair exactly once, no cartesian in the plan") {
    // intervals a=[0,100] and b=[50,400] share cells 0..1 at w=100 — the
    // canonical-cell rule must emit the pair ONCE; c=[500,600] overlaps
    // nothing; d touches b only at the boundary point 400 (inclusive)
    val iv = Seq(("a", 0L, 100L), ("b", 50L, 400L), ("c", 500L, 600L), ("d", 400L, 450L))
      .toDF("id", "s", "e").withColumn("k", lit(1))
    val out = graft.operators.IntervalJoin(
      iv.withColumnRenamed("id", "id1"), iv.withColumnRenamed("id", "id2"),
      Seq("k"), "s", "e", bucket = 100L)
      .where(col("l_id1") < col("r_id2"))
      .select("l_id1", "r_id2").as[(String, String)].collect().sorted
    assert(out.toSeq == Seq(("a", "b"), ("b", "d")))
    val plan = graft.operators.IntervalJoin(
      iv.withColumnRenamed("id", "id1"), iv.withColumnRenamed("id", "id2"),
      Seq("k"), "s", "e", bucket = 100L).queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"interval join planned a product:\n${plan.take(1500)}")
  }

  test("over-span intervals are excluded from the join and reported") {
    val iv = Seq(("long", 0L, 100000L), ("x", 10L, 20L), ("y", 15L, 30L))
      .toDF("id", "s", "e").withColumn("k", lit(1))
    val out = graft.operators.IntervalJoin(
      iv.withColumnRenamed("id", "id1"), iv.withColumnRenamed("id", "id2"),
      Seq("k"), "s", "e", bucket = 10L, maxSpanBuckets = 16)
      .where(col("l_id1") < col("r_id2"))
      .select("l_id1", "r_id2").as[(String, String)].collect().toSeq
    assert(out == Seq(("x", "y")), "the 10000-cell interval must not join")
    val dropped = graft.operators.IntervalJoin
      .droppedIntervals(iv, "s", "e", bucket = 10L, maxSpanBuckets = 16)
      .select("id").as[String].collect().toSeq
    assert(dropped == Seq("long"))
  }
}

class ProfileFunctionsSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("psi is zero on identical snapshots and matches the hand case on a shift") {
    // ref: both rows in bucket 0; cur: both rows in bucket 9. Smoothed
    // p = (cnt+1)/(n+10): psi = (1/12-3/12)ln(1/3) + (3/12-1/12)ln(3)
    //                         = (1/3)ln(3) ≈ 0.366204
    val ref = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "value")
    val cur = Seq(("a", 480.0), ("a", 470.0)).toDF("g", "value")
    val shifted = graft.functions.ProfileFunctions.psi(ref, cur, "value", Seq("g"))
      .select("psi").as[Double].head()
    assert(math.abs(shifted - math.log(3.0) / 3.0) < 1e-6)
    val same = graft.functions.ProfileFunctions.psi(ref, ref, "value", Seq("g"))
      .select("psi").as[Double].head()
    assert(same == 0.0)
  }

  test("profile reports completeness, distinctness, and typed min/max") {
    val df = Seq((Some(3L), Some("b")), (Some(1L), None), (None, Some("a")), (Some(3L), Some("b")))
      .toDF("n", "s")
    val out = graft.functions.ProfileFunctions.profile(df, Seq("n"), Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = out("n")
    assert(n.getLong(1) == 4 && n.getLong(2) == 3 && n.getLong(3) == 2)
    assert(n.getDouble(4) == 0.75 && n.getDouble(5) == 1.0 && n.getDouble(6) == 3.0)
    val s = out("s")
    assert(s.getLong(2) == 3 && s.getLong(3) == 2)
    assert(s.getString(7) == "a" && s.getString(8) == "b")
  }
}

class JoinPropertySpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  private val rng = new scala.util.Random(4242)

  test("IntervalJoin matches the brute-force overlap filter on random data") {
    // negative starts included: truncated `div` is monotonic, so the
    // canonical-cell rule stays exactly-once across zero
    val iv = (1 to 120).map { i =>
      val s = rng.nextInt(2000) - 500L
      (i.toLong, 1L + rng.nextInt(3), s, s + rng.nextInt(120))
    }
    val df = iv.toDF("id", "k", "s", "e")
    val got = graft.operators.IntervalJoin(
        df.withColumnRenamed("id", "id1"), df.withColumnRenamed("id", "id2"),
        Seq("k"), "s", "e", bucket = 50L)
      .where(col("l_id1") < col("r_id2"))
      .select("l_id1", "r_id2").as[(Long, Long)].collect().toSet
    val exp = (for {
      a <- iv; b <- iv
      if a._1 < b._1 && a._2 == b._2 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, b._1)).toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
  }

  test("AsOfJoin directions match the brute-force rules on random data") {
    val left = (1 to 60).map(i => (i.toLong, 1L + rng.nextInt(3), rng.nextInt(500).toLong))
    val right = (1 to 40).map(i => (1L + rng.nextInt(3), rng.nextInt(500).toLong, i.toLong * 10))
    val l = left.toDF("id", "k", "t")
    val r = right.toDF("k", "rt", "pay")
    // the operator collapses (k, rt) ties to max payload first
    val byKey = right.groupBy(_._1).map { case (k, rs) =>
      k -> rs.groupBy(_._2).map { case (rt, xs) => rt -> xs.map(_._3).max }.toSeq
    }
    def brute(k: Long, t: Long, dir: String): Option[Long] = {
      val rs = byKey.getOrElse(k, Seq.empty)
      val back = rs.filter(_._1 <= t).sortBy(_._1).lastOption
      val fwd = rs.filter(_._1 >= t).sortBy(_._1).headOption
      dir match {
        case "backward" => back.map(_._2)
        case "forward"  => fwd.map(_._2)
        case "nearest"  => (back, fwd) match {
          case (Some(b), Some(f)) =>
            Some(if (t - b._1 <= f._1 - t) b._2 else f._2)
          case (b, f) => b.orElse(f).map(_._2)
        }
      }
    }
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsOfJoin(l, r, "k", "k", "t", "rt", "pay", "m", dir)
        .select("id", "m").as[(Long, Option[Long])].collect().toMap
      for ((id, k, t) <- left)
        assert(got(id) == brute(k, t, dir),
          s"dir=$dir id=$id k=$k t=$t: got ${got(id)}, want ${brute(k, t, dir)}")
    }
  }

  test("FuzzyJoin matches brute-force Levenshtein at d=1 and d=2") {
    // variable lengths + shared stems force real insert/delete matches,
    // not just same-length substitutions; the blocking must not lose any
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val alpha = "ab"
    // lengths 0..7: empty and length-1 strings are the regression corpus
    // for the rlen >= 0 blocking bound ("" must pair with any s, |s| <= d)
    val strs = (1 to 80).map { i =>
      val n = rng.nextInt(8)
      (i.toLong, (0 until n).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    }
    val df = strs.toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val got = graft.operators.FuzzyJoin.edJoin(
          df.select(col("id").as("id1"), col("s").as("s1")),
          df.select(col("id").as("id2"), col("s").as("s2")), d)
        .where(col("id1") < col("id2"))
        .select("id1", "id2", "dist").as[(Long, Long, Int)].collect().toSet
      val exp = (for {
        a <- strs; b <- strs
        if a._1 < b._1
        dist = lev(a._2, b._2)
        if dist <= d
      } yield (a._1, b._1, dist)).toSet
      assert(got == exp,
        s"d=$d missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
    }
  }
}

class Interp1dJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private val grid = Seq((0.0, 0.0), (1.0, 10.0), (3.0, 30.0)).toDF("x", "y")

  test("interior lerp incl. grid points and xmax") {
    val q = Seq(0.0, 0.5, 1.0, 2.0, 3.0).toDF("xq")
    val out = Interp1dJoin(grid, "x", "y", q, "xq", "yq")
      .as[(Double, Double)].collect().toMap
    assert(out(0.5) == 5.0 && out(2.0) == 20.0 && out(3.0) == 30.0 && out(0.0) == 0.0)
  }

  test("extrapolation matches two-point slopes") {
    val q = Seq(-1.0, 4.0).toDF("xq")
    val out = Interp1dJoin(grid, "x", "y", q, "xq", "yq", extrapolate = true)
      .as[(Double, Double)].collect().toMap
    assert(out(-1.0) == -10.0 && out(4.0) == 40.0)
  }

  test("fill value outside range") {
    val q = Seq(-1.0, 4.0).toDF("xq")
    val out = Interp1dJoin(grid, "x", "y", q, "xq", "yq", fillValue = -1.5)
      .as[(Double, Double)].collect().toMap
    assert(out(-1.0) == -1.5 && out(4.0) == -1.5)
  }

  test("agrees with the per-row kernel on a random grid") {
    val rng = new scala.util.Random(11)
    val xs = (0 until 20).map(_.toDouble).toArray
    val ys = Array.fill(20)(rng.nextDouble() * 100)
    val xq = Array.fill(50)(rng.nextDouble() * 25 - 3)
    val expected = kernels.Interp1dKernel(xs, ys, xq,
      kernels.Interp1dKernel.Opts(extrapolate = true, assumeSorted = true))
    val gridDf = xs.zip(ys).toSeq.toDF("x", "y")
    val out = Interp1dJoin(gridDf, "x", "y", xq.zipWithIndex.toSeq.toDF("xq", "i"),
      "xq", "yq", extrapolate = true)
      .orderBy("i").select("yq").as[Double].collect()
    expected.zip(out).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }
}

class TextFunctionsSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("token count, shingles, fingerprint invariance") {
    val df = Seq("a b c d", "d c b a", "a a b").toDF("text")
    val toks = df.select(TextFunctions.tokenCount($"text")).as[Int].collect()
    assert(toks.sameElements(Array(4, 4, 3)))
    val fps = df.select(TextFunctions.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1)) // bag-of-words identity is order-insensitive
    assert(fps(0) != fps(2))
    val sh = df.select(TextFunctions.shingles($"text", 2)).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b", "b c", "c d"))
  }

  test("minhash equal for permuted docs, simhash is 16-bit") {
    val df = Seq("x y z w q r s t", "t s r q w z y x", "completely different words here").toDF("text")
    val mh = df.select(TextFunctions.minhash($"text", 0)).as[String].collect()
    assert(mh(0) == mh(1) && mh(0) != mh(2))
    val sh = df.select(TextFunctions.simhash16($"text")).as[Int].collect()
    assert(sh.forall(v => v >= 0 && v < 65536))
    assert(sh(0) == sh(1))
  }

  test("langId votes by marker stopwords") {
    val df = Seq("the cat and the dog of a house", "el gato y la casa de los perros").toDF("text")
    val out = df.select(TextFunctions.langId($"text")).as[String].collect()
    assert(out.sameElements(Array("en", "es")))
  }

  test("bpeMergePair is greedy left-to-right with non-overlapping matches") {
    assert(TextFunctions.bpeMergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(TextFunctions.bpeMergePair(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(TextFunctions.bpeMergePair(Seq("x"), "a", "b") == Seq("x"))
    // fused symbols participate in later merges as single units
    assert(TextFunctions.bpeMergePair(Seq("ab", "c"), "ab", "c") == Seq("abc"))
  }

  test("bpeTrain learns the dominant pair then builds on the fused symbol") {
    // "abab" x3 + "abc": round 1 must merge (a,b) (count 7 beats (b,a) 3);
    // round 2 sees fused "ab" symbols and merges (ab,ab) from the x3 word
    val docs = Seq((1L, "abab abab abab abc")).toDF("doc_id", "text")
    val rules = graft.api.Graft.bpeTrain(docs, "doc_id", "text", merges = 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(rules(0) == (1L, "a", "b", 7L))
    assert(rules(1) == (2L, "ab", "ab", 3L))
  }
}

class SimilaritySpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1f, 0f, 2f), Seq(1f, 0f, 2f), Seq(0f, 3f, 0f)))
      .toDF("a", "b", "c")
    val (same, orth) = df.select(
      SimilarityFunctions.cosine($"a", $"b"),
      SimilarityFunctions.cosine($"a", $"c")).as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12 && math.abs(orth) < 1e-12)
  }

  test("brute-force top-k returns nearest by construction") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 0.01f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityFunctions.bruteForceTopK(
      vecs.where($"vec_id" === 0), vecs, 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().toMap
    assert(out(3L) == 1 && out(1L) == 2) // 3 is closest to (1,0), then 1
  }

  test("multi-band LSH survives skew that saturates a single narrow band") {
    // adversarial corpus: the first 8 components are all-positive, so the
    // round-1 scheme (one band over components 0..7) maps every vector to
    // ONE bucket — an O(N^2) pair bomb; the remaining components carry
    // hash-pseudo-random signs
    val n = 1000
    val dim = 64
    val vecs = (0 until n).map { id =>
      (id.toLong, Seq.tabulate(dim)(k =>
        if (k < 8) 1f
        else if (((id * 2654435761L + k * 1315423911L) & 4) == 0) 1f else -1f))
    }.toDF("vec_id", "embedding")
    def maxBucket(bands: Int, bits: Int): Long = vecs
      .select(explode(SimilarityFunctions.lshBands($"embedding", bands, bits)).as("bb"))
      .groupBy($"bb.band", $"bb.bucket").count()
      .agg(max("count")).as[Long].head()
    assert(maxBucket(1, 8) == n, "single 8-bit band over the hot prefix collapses to one bucket")
    // 16-bit bands (even the one containing the hot prefix gets 8 random
    // bits) keep every block a small fraction of the corpus
    assert(maxBucket(4, 16) <= n / 4, s"16-bit bands must spread the hot prefix")

    // and the ANN path still returns k results per query through the join
    val out = SimilarityFunctions.lshTopK(vecs.where($"vec_id" < 3), vecs, k = 5)
    assert(out.groupBy("qid").count().as[(Long, Long)].collect().forall(_._2 == 5))
  }

  test("kmeansAssign refit moves centroids onto the data mass") {
    // init centroid 100 sits diagonally BETWEEN the clusters, 200 on
    // cluster B; pass 1 assigns by the init geometry, the refit pulls 100
    // onto cluster A's mean, so pass 2 keeps the partition but with a
    // strictly better fit for every A point
    val vecs = Seq(
      (100L, Seq(0.7f, 0.7f)), (200L, Seq(0f, 1f)),          // init centroids
      (1L, Seq(1f, 0f)), (2L, Seq(0.95f, 0.05f)), (3L, Seq(0.9f, -0.1f)),
      (4L, Seq(0f, 1f)), (5L, Seq(0.1f, 0.95f))
    ).toDF("vec_id", "embedding")
    val corpus = vecs.where($"vec_id" < 100)
    val init = vecs.where($"vec_id" >= 100)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val p1 = asMap(SimilarityFunctions.kmeansAssign(corpus, init, iters = 1))
    val p2 = asMap(SimilarityFunctions.kmeansAssign(corpus, init, iters = 2))
    assert(Seq(1L, 2L, 3L).forall(id => p1(id)._1 == 100L && p2(id)._1 == 100L))
    assert(Seq(4L, 5L).forall(id => p1(id)._1 == 200L && p2(id)._1 == 200L))
    assert(Seq(1L, 2L, 3L).forall(id => p2(id)._2 > p1(id)._2 + 0.1),
      "refit centroid must fit cluster A much better than the diagonal init")
  }

  test("semDedup groups within cells and keeps the least-prototypical member") {
    // two orthogonal cells; ids 1/2/3 land in cell 0 (id 3 slightly
    // off-axis = least similar to the centroid), id 4 alone in cell 10.
    // 1-2-3 are mutually near-identical -> one group, keep = 3.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)),         // centroid of cell 0
      (10L, Seq(0f, 1f, 0f)),        // centroid of cell 10
      (1L, Seq(1f, 0.01f, 0f)),
      (2L, Seq(1f, 0.02f, 0f)),
      (3L, Seq(1f, 0.2f, 0f)),
      (4L, Seq(0.1f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityFunctions.semDedup(
        vecs.where($"vec_id" =!= 0L && $"vec_id" =!= 10L),
        vecs.where($"vec_id" === 0L || $"vec_id" === 10L), tau = 0.95)
      .select("vec_id", "cell", "cluster", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (0L, 1L, false) && out(2L) == (0L, 1L, false))
    assert(out(3L) == (0L, 1L, true), "farthest-from-centroid member survives")
    assert(out(4L) == (10L, 4L, true), "singleton keeps itself")
  }

  test("semDedup2 with coarse == fine degenerates to flat semDedup") {
    // each vector's coarse argmax IS its flat argmax, and that cell's
    // only fine centroid is itself — so the two-level assignment, cells,
    // clusters, and keeps must all equal the flat form's
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (10L, Seq(0f, 1f, 0f)),
      (1L, Seq(1f, 0.01f, 0f)), (2L, Seq(1f, 0.02f, 0f)),
      (3L, Seq(1f, 0.2f, 0f)), (4L, Seq(0.1f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val corpus = vecs.where($"vec_id" =!= 0L && $"vec_id" =!= 10L)
    val cen = vecs.where($"vec_id" === 0L || $"vec_id" === 10L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "cluster", "keep")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(rows(SimilarityFunctions.semDedup2(corpus, cen, cen, tau = 0.95)) ==
      rows(SimilarityFunctions.semDedup(corpus, cen, tau = 0.95)))
  }

  test("semDedup2 empty-cell rows come back as kept singletons") {
    // coarse 10 (y-axis) gets no fine centroid: v4 lands there, must be a
    // singleton cluster with cell -1 and keep = true, never pair-joined
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (10L, Seq(0f, 1f, 0f)),
      (100L, Seq(1f, 0.05f, 0f)), // fine; argmaxes into coarse 0
      (1L, Seq(1f, 0.01f, 0f)), (4L, Seq(0.1f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityFunctions.semDedup2(
        vecs.where($"vec_id".isin(1L, 4L)),
        vecs.where($"vec_id".isin(0L, 10L)),
        vecs.where($"vec_id" === 100L), tau = 0.95)
      .select("vec_id", "cell", "cluster", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (100L, 1L, true))
    assert(out(4L) == (-1L, 4L, true), "empty-cell row is a kept singleton")
  }

  test("ivf2Assign routes through the coarse tree and pins the empty-cell rule") {
    // coarse 0=(x-axis), 10=(y-axis); fine 100/101 both argmax into coarse
    // 0, coarse 10 gets NO fine centroid. v1 hugs f100, v2 tilts toward
    // f101, v3 lands in the fine-less coarse cell -> the explicit
    // (-1, -2.0) rule.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (10L, Seq(0f, 1f, 0f)),       // coarse
      (100L, Seq(1f, 0.05f, 0f)), (101L, Seq(0.9f, 0.3f, 0f)), // fine
      (1L, Seq(1f, 0.01f, 0f)), (2L, Seq(0.8f, 0.4f, 0f)), (3L, Seq(0f, 1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityFunctions.ivf2Assign(
        vecs.where($"vec_id" < 100 && $"vec_id" >= 1),
        vecs.where($"vec_id" === 0L || $"vec_id" === 10L),
        vecs.where($"vec_id" >= 100))
      .select("vec_id", "cid", "fid", "fcos")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L)._1 == 0L && out(1L)._2 == 100L)
    assert(out(2L)._1 == 0L && out(2L)._2 == 101L,
      "tilted vector must pick the tilted fine centroid")
    assert(out(3L) == (10L, -1L, -2.0), "fine-less coarse cell -> explicit sentinel")
  }

  test("pqEncode maps every sampled vector to its own codebook rank") {
    // 3 sample vectors (ids 10/20/30 -> ranks 0/1/2); a sampled vector's
    // subvector distance to its own entry is exactly 0 in every subspace,
    // so its code vector must be (rank, rank, ...)
    val vecs = Seq(
      (10L, Seq(1f, 0f, 0f, 2f)), (20L, Seq(0f, 1f, 3f, 0f)),
      (30L, Seq(0.5f, 0.5f, 1f, 1f)), (1L, Seq(0.9f, 0.1f, 0.1f, 1.9f)))
      .toDF("vec_id", "embedding")
    val sample = vecs.where($"vec_id" >= 10)
    val out = SimilarityFunctions.pqEncode(vecs, sample, m = 2)
      .select($"vec_id", $"codes").as[(Long, Seq[Long])].collect().toMap
    assert(out(10L) == Seq(0L, 0L) && out(20L) == Seq(1L, 1L) && out(30L) == Seq(2L, 2L))
    // id 1 hugs sample 10 in both subspaces
    assert(out(1L) == Seq(0L, 0L))
  }

  test("nearest-centroid codegen path is bit-identical to the fold path") {
    // adversarial inputs: random floats, negated copies, and a DUPLICATED
    // centroid (exact ccos tie -> min cid must win on both paths).
    // Zero-norm vectors are OUTSIDE the contract: under ANSI mode the
    // interpreted fold raises DIVIDE_BY_ZERO on them (so no gate can ever
    // have passed one), while the codegen path yields a NaN cosine.
    val rng = new scala.util.Random(99)
    val base = (0 until 60).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.4).toFloat)))
    val vecs = (base ++ Seq(
      (201L, base(5)._2.map(x => -x))))              // exact antipode
      .toDF("vec_id", "embedding")
    val spark2 = vecs.sparkSession
    import spark2.implicits._
    val cen = base.take(4).map { case (id, e) => (id, e.map(_.toDouble)) } ++
      Seq((50L, base(0)._2.map(_.toDouble)))          // duplicate of centroid 0
    val v = vecs.select($"vec_id", $"embedding".as("ce"))
    val fast = SimilarityFunctions.assignBestExpr(v, cen)
      .select($"vec_id", $"cid", $"ccos").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val slow = SimilarityFunctions.assignBestHof(v, cen)
      .select($"vec_id", $"cid", $"ccos").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val diff = fast.keys.filter { k =>
      val (fc, fv) = fast(k); val (sc, sv) = slow(k)
      fc != sc || java.lang.Double.compare(fv, sv) != 0
    }
    assert(diff.isEmpty, s"mismatch at ${diff.take(3).map(k => (k, fast(k), slow(k)))}")
    // the duplicated centroid (ids 0 and 50): vector 0 ties at ccos=1.0
    // and must take the LOWER cid on both paths
    assert(fast(0L)._1 == 0L)
  }

  test("pqEncode codegen path is bit-identical to the interpreted fold path") {
    // pseudo-random floats plus exact codebook copies (zero-distance ties)
    // and a duplicated sample vector (equal-distance tie -> lowest rank
    // must win on BOTH paths)
    val rng = new scala.util.Random(77)
    val base = (0 until 40).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.3).toFloat)))
    val dupes = Seq((100L, base(3)._2), (101L, base(3)._2)) // duplicate pair
    val vecs = (base ++ dupes).toDF("vec_id", "embedding")
    val sample = vecs.where($"vec_id" >= 100 || $"vec_id" < 6) // includes the dup twice
    val fast = SimilarityFunctions.pqEncode(vecs, sample, m = 4)
      .select($"vec_id", $"codes").as[(Long, Seq[Long])].collect().toMap
    val slow = SimilarityFunctions.pqEncodeHof(vecs, sample, m = 4)
      .select($"vec_id", $"codes").as[(Long, Seq[Long])].collect().toMap
    assert(fast == slow, s"codegen vs fold mismatch: ${
      fast.keys.filter(k => fast(k) != slow(k)).take(3).map(k => (k, fast(k), slow(k)))}")
    // the duplicated sample vector occupies three codebook ranks (3, 6, 7);
    // its copies must all code to the LOWEST rank in every subspace
    assert(fast(100L) == fast(101L) && fast(100L) == fast(3L))
  }

  test("PqIndex: encode once, persist, search the stored codes identically") {
    // the deployment shape: build the index, WRITE the coded table to
    // parquet, read it back, search — results must equal the one-shot
    // ivfPqTopK (which routes through the same machinery)
    val rng = new scala.util.Random(7)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val cen = vecs.where($"vec_id" % 10 === 0)
    val idx = graft.functions.PqIndex.build(cen, cen, m = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    idx.encode(vecs).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = vecs.where($"vec_id" < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val viaStore = key(idx.search(q, stored, k = 4, nprobe = 2))
    val direct = key(SimilarityFunctions.ivfPqTopK(q, vecs, cen, cen, k = 4, nprobe = 2, m = 4))
    assert(viaStore.toSeq == direct.toSeq,
      s"stored-codes search diverged: ${viaStore.take(3).toSeq} vs ${direct.take(3).toSeq}")
    assert(direct.nonEmpty)
  }

  test("PqIndex residual path: persisted residual codes search like the one-shot") {
    // residual-IVFADC deployment shape: build once (residual-space
    // books), encodeResidual -> parquet -> read back -> searchResidual;
    // must equal ivfPqResidualTopK (which routes through the same
    // machinery) — and planning repeated residual searches launches no
    // additional collect jobs (asserted implicitly: the index holds the
    // only driver state the plan needs)
    val rng = new scala.util.Random(13)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val cen = vecs.where($"vec_id" % 10 === 0)
    val resSample = graft.functions.SimilarityFunctions.ivfResiduals(vecs, cen)
      .where($"vec_id" % 4 === 0).select($"vec_id", $"re".as("embedding"))
    val idx = graft.functions.PqIndex.build(cen, resSample, m = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_rpq").toString
    idx.encodeResidual(vecs).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = vecs.where($"vec_id" < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"vec_id", $"adist", $"rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val viaStore = key(idx.searchResidual(q, stored, k = 4, nprobe = 2))
    val direct = key(SimilarityFunctions.ivfPqResidualTopK(
      q, vecs, cen, resSample, k = 4, nprobe = 2, m = 4))
    assert(viaStore.toSeq == direct.toSeq,
      s"stored residual codes diverged: ${viaStore.take(3).toSeq} vs ${direct.take(3).toSeq}")
    assert(direct.nonEmpty)
  }

  test("PqIndex is build-once: repeated search planning launches zero jobs") {
    // the quantizer + codebooks are collected exactly once, at build();
    // every subsequent encode/search must assemble its plan from the
    // cached driver state with NO Spark jobs (ivfPqTopK, by contrast,
    // re-collects per call — the contrast assertion below). Job starts
    // are counted through a listener; events post asynchronously, so the
    // zero-assertion waits for the bus to drain via a sentinel action.
    val rng = new scala.util.Random(11)
    // RDD-backed, NOT a local Seq: ConvertToLocalRelation folds local
    // relations so their collects never launch jobs — which would make
    // both halves of this test vacuous
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.5).toFloat)))
    val vecs = spark.createDataset(spark.sparkContext.parallelize(rows, 2))
      .toDF("vec_id", "embedding")
    val cen = vecs.where($"vec_id" % 10 === 0)
    val idx = graft.functions.PqIndex.build(cen, cen, m = 4)
    val coded = idx.encode(vecs)
    val q = vecs.where($"vec_id" < 3)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def settle(atLeast: Int): Int = {
      val deadline = System.nanoTime() + 5000000000L
      while (counter.get() < atLeast && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200) // absorb any stragglers still on the bus
      counter.get()
    }
    try {
      // drain sentinel: in-flight events from build()'s collects can still
      // be on the async bus when the listener registers — absorb them
      spark.sparkContext.parallelize(Seq(1)).count()
      val base = settle(1)
      for (_ <- 1 to 3) idx.search(q, coded, k = 4, nprobe = 2)
      // sentinel: one action AFTER the plan-only calls; once its job-start
      // event is visible, any job the searches had launched would be too
      spark.sparkContext.parallelize(Seq(1)).count()
      val after = settle(base + 1)
      assert(after == base + 1,
        s"search planning launched ${after - base - 1} extra job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // contrast: the convenience one-shot DOES collect during planning
    val before = counter.get()
    spark.sparkContext.addSparkListener(listener)
    try {
      SimilarityFunctions.ivfPqTopK(q, vecs, cen, cen, k = 4, nprobe = 2, m = 4)
      val deadline = System.nanoTime() + 5000000000L
      while (counter.get() == before && System.nanoTime() < deadline) Thread.sleep(20)
      assert(counter.get() > before, "expected ivfPqTopK planning to collect")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Ivf2Index is build-once: repeated assign planning launches zero jobs") {
    // same contract as PqIndex: both quantizer levels are collected at
    // build(); every later assign() is plan-only (RDD-backed data so
    // LocalRelation folding can't fake the zero — see the PqIndex test)
    val rng = new scala.util.Random(13)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextGaussian() * 0.5).toFloat)))
    val vecs = spark.createDataset(spark.sparkContext.parallelize(rows, 2))
      .toDF("vec_id", "embedding")
    val idx = graft.functions.Ivf2Index.build(
      vecs.where($"vec_id" % 20 === 0), vecs.where($"vec_id" % 8 === 0))
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def settle(atLeast: Int): Int = {
      val deadline = System.nanoTime() + 5000000000L
      while (counter.get() < atLeast && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      counter.get()
    }
    try {
      spark.sparkContext.parallelize(Seq(1)).count()
      val base = settle(1)
      for (_ <- 1 to 3) idx.assign(vecs)
      spark.sparkContext.parallelize(Seq(1)).count()
      val after = settle(base + 1)
      assert(after == base + 1,
        s"assign planning launched ${after - base - 1} extra job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the one-shot convenience still matches the index path exactly
    val a = idx.assign(vecs).collect().map(_.toSeq).toSet
    val b = SimilarityFunctions.ivf2Assign(vecs,
      vecs.where($"vec_id" % 20 === 0), vecs.where($"vec_id" % 8 === 0))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("pqTrain cuts reconstruction error by an order of magnitude") {
    // 8 well-separated anchor directions; the first 16 ids (the untrained
    // initialization) sit in only TWO clusters by construction, so the
    // untrained codebooks waste most entries on two patterns. Lloyd refit
    // must spread them: assert on quantization MSE — the objective Lloyd
    // optimizes, deterministic and dramatic here (measured 38 -> ~1, the
    // per-vector jitter floor). Recall deltas are deliberately NOT the
    // assertion: within-cluster fine ranking sits at the jitter scale
    // where ADC noise dominates for ANY codebook, and the realistic
    // recall measurement (vs exact cosine) is the gated q_pq_recall
    // harness.
    val rng = new scala.util.Random(2024)
    val dim = 16
    val m = 4; val dsub = 4
    val anchors = (0 until 8).map(c => Seq.tabulate(dim)(k =>
      if (k % 8 == c) 4f else 0f))
    def jitter(a: Seq[Float]) = a.map(x => x + (rng.nextGaussian() * 0.3).toFloat)
    val vecs = (0 until 240).map { i =>
      val c = if (i < 16) i % 2 else i % 8
      (i.toLong, jitter(anchors(c)))
    }.toDF("vec_id", "embedding")
    val init = vecs.where($"vec_id" < 16)
    def mse(sample: org.apache.spark.sql.DataFrame): Double = {
      val books = sample
        .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val bk = (0 until m).map(s => books.map(_._2.slice(s * dsub, (s + 1) * dsub)))
      val data = vecs.select($"vec_id", $"embedding".cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
      data.map { case (_, e) =>
        (0 until m).map { s =>
          val sub = e.slice(s * dsub, (s + 1) * dsub)
          bk(s).map(c => sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum / data.length
    }
    val before = mse(init)
    val after = mse(SimilarityFunctions.pqTrain(vecs, init, m = m, iters = 3))
    assert(after < before / 10.0,
      s"Lloyd refit must collapse the quantization error: before=$before after=$after")
    // and the trained table feeds the encode path unchanged
    val enc = SimilarityFunctions.pqEncode(vecs,
      SimilarityFunctions.pqTrain(vecs, init, m = m, iters = 2), m = m)
    assert(enc.count() == 240L)
  }

  test("ivfPqTopK ADC ranking equals exact L2 when quantization is lossless") {
    // corpus vectors ARE codebook entries (every vector sampled), so the
    // ADC distance is the quantized true distance and the PQ ranking must
    // reproduce the exact nearest-neighbor order
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0.5f, 0f)), (3L, Seq(0.95f, 0f, 0.1f, 0f)),
      (4L, Seq(0f, 0.9f, 0.6f, 0.1f))).toDF("vec_id", "embedding")
    val out = SimilarityFunctions.ivfPqTopK(
        vecs.where($"vec_id" === 0), vecs,
        centroids = vecs.where($"vec_id" === 0), // one cell: pure ADC ranking
        sample = vecs, k = 4, nprobe = 1, m = 2)
      .select($"vec_id", $"rank", $"adist").as[(Long, Int, Double)].collect()
      .sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 4L, 2L),
      s"ADC order must match exact L2 order, got ${out.toSeq}")
    // lossless codes -> adist IS the sum of the per-subspace quantized
    // squared distances (each subspace quantizes to 1e-6 BEFORE the sum)
    def q2(ps: Seq[(Float, Float)]): Double =
      math.floor(ps.map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d }.sum * 1e6 + 0.5)
    val d3 = (q2(Seq((1f, 0.95f), (0f, 0f))) + q2(Seq((0f, 0.1f), (0f, 0f)))) / 1e6
    assert(math.abs(out.head._3 - d3) < 1e-12)
  }

  test("ivfResiduals subtracts each vector's own max-cosine centroid exactly") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0.5f, 0f))).toDF("vec_id", "embedding")
    val cen = vecs.where($"vec_id" === 0 || $"vec_id" === 2)
    val r = SimilarityFunctions.ivfResiduals(vecs, cen)
      .select($"vec_id", $"cid", $"re").as[(Long, Long, Seq[Double])].collect()
      .sortBy(_._1)
    assert(r.map(x => (x._1, x._2)).toSeq == Seq((0L, 0L), (1L, 0L), (2L, 2L)))
    // residual arithmetic is the IEEE difference of the widened floats —
    // the exact values the oracle's CAST(...AS DOUBLE) subtraction yields
    assert(r(1)._3 == Seq(0.9f.toDouble - 1.0, 0.1f.toDouble - 0.0, 0.0, 0.0))
    assert(r(0)._3.forall(_ == 0.0) && r(2)._3.forall(_ == 0.0))
  }

  test("residual ADC ranking equals exact L2 when residual quantization is lossless") {
    // residual codebook = EVERY corpus residual and all cells probed, so
    // for any corpus vector x in cell c: (q-c) - (x-c) = q - x — the ADC
    // distance is the per-subspace-quantized true distance regardless of
    // cell, and the IVFADC ranking must reproduce the exact L2 order
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0.5f, 0f)), (3L, Seq(0.95f, 0f, 0.1f, 0f)),
      (4L, Seq(0f, 0.9f, 0.6f, 0.1f))).toDF("vec_id", "embedding")
    val cen = vecs.where($"vec_id" === 0 || $"vec_id" === 2)
    val res = SimilarityFunctions.ivfResiduals(vecs, cen)
      .select($"vec_id", $"re".as("embedding"))
    val out = SimilarityFunctions.ivfPqResidualTopK(
        vecs.where($"vec_id" === 0), vecs, cen, sample = res,
        k = 4, nprobe = 2, m = 2)
      .select($"vec_id", $"rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 4L, 2L),
      s"residual ADC order must match exact L2 order, got ${out.toSeq}")
  }

  test("multiProbeBands: own buckets kept, flips are 1-bit, lowest margins first") {
    val vecs = Seq((0L, Seq(0.9f, -0.01f, 0.5f, -0.4f, 0.03f, 0.8f, -0.7f, 0.02f)))
      .toDF("vec_id", "embedding")
    val probes = vecs.select(explode(SimilarityFunctions.multiProbeBands(
        $"embedding", bands = 2, bits = 4, extra = 2)).as("p"))
      .select($"p.band", $"p.bucket").as[(Int, Long)].collect()
    assert(probes.length == 2 * 3, s"bands*(1+extra) probes, got ${probes.toSeq}")
    // band 0 signs: (+,-,+,-) -> bucket 0b0101 = 5; band 1: (+,+,-,+) -> 0b1011 = 11
    val own = Seq((0, 5L), (1, 11L))
    assert(own.forall(probes.contains), s"own buckets missing: ${probes.toSeq}")
    probes.filterNot(own.contains).foreach { case (b, v) =>
      val o = own.find(_._1 == b).get._2
      assert(java.lang.Long.bitCount(v ^ o) == 1, s"probe ($b,$v) not a 1-bit flip")
    }
    // band 0 lowest |margins| are components 1 (0.01) and... band-0 comps
    // are (0.9, 0.01, 0.5, 0.4) -> flips at bits 1 and 3
    val b0 = probes.filter(p => p._1 == 0 && p._2 != 5L).map(_._2).sorted.toSeq
    assert(b0 == Seq(5L ^ 2L, 5L ^ 8L).sorted, s"band-0 flips: $b0")
  }

  test("multi-probe candidates are a superset of single-probe candidates") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val single = pairs(SimilarityFunctions.lshTopK(q, vecs, k = 200, bands = 2, bits = 8))
    val multi = pairs(SimilarityFunctions.lshMultiProbeTopK(
      q, vecs, k = 200, bands = 2, bits = 8, extra = 2))
    assert(single.subsetOf(multi),
      s"missing from multi-probe: ${(single -- multi).take(5)}")
    assert(multi.size > single.size, "extra probes must add candidates on random data")
  }
}

class PipelinePlanSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = (1 to 200).map(i =>
    (i.toLong, s"alpha beta w$i gamma ${if (i % 2 == 0) "delta" else "eps"}"))
    .toDF("doc_id", "text")

  test("dsirWeights joins the model tables by broadcast, never sort-merge") {
    val target = docs.where($"doc_id" % 3 === 0).select("doc_id")
    val plan = graft.api.Graft.dsirWeights(docs, target, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"stats join not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"an O(vocab) model table planned a sort-merge join:\n${plan.take(1500)}")
  }

  test("bpeEncodeCounts joins the segmentation map by broadcast") {
    val plan = graft.api.Graft.bpeEncodeCounts(docs, "doc_id", "text", merges = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab segmentation map not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), s"corpus re-sorted for the map join:\n${plan.take(1500)}")
  }

  test("semDedup cell assignment is join-free, sort-free map work") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(k => if (k == i % 4) 1f else 0.01f * ((i + k) % 3))))
      .toDF("vec_id", "embedding")
    // droppedCells = the assignment fold + ONE count aggregation, so its
    // physical plan pins the assignment's shape in isolation: the centroid
    // set rides as a literal (no join of any kind) and the argmax is a
    // row-local fold (no Window sort, no SortAggregate fallback) — the two
    // shapes that spilled 9.4 GB at the x30 soak before assignBest.
    val dropped = graft.functions.SimilarityFunctions.semDedupDroppedCells(
      vecs, vecs.where($"vec_id" < 4), cellCap = 1)
    val plan = dropped.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"assignment plans a join:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"assignment plans a window sort:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"),
      s"argmax fell back to SortAggregate:\n${plan.take(1500)}")
    val out = graft.functions.SimilarityFunctions.semDedup(
      vecs, vecs.where($"vec_id" < 4), tau = 0.9)
    assert(out.count() == 64L)
  }

  test("ivf2Assign is map-only end to end: no join, no window, no sort-agg") {
    // both quantizer levels ride as literals (array + map keyed by coarse
    // id), so the WHOLE two-level assignment must plan as projections —
    // the O(N·√k) scale story only holds if neither level shuffles
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(k => if (k == i % 4) 1f else 0.01f * ((i + k) % 3))))
      .toDF("vec_id", "embedding")
    val out = graft.functions.SimilarityFunctions.ivf2Assign(
      vecs, vecs.where($"vec_id" < 4), vecs.where($"vec_id" % 8 === 0))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"two-level assignment plans a join:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"two-level assignment plans a window:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"), s"argmax fell back to SortAggregate:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n${plan.take(1500)}")
    assert(out.count() == 64L)
  }

  test("ivfTopK windows only the query/rank sides, never the corpus assignment") {
    // the corpus cell assignment is the 100 TB pass: it must ride the
    // row-local assignBest fold, so the WHOLE plan carries exactly two
    // Window sorts — the nprobe probe rank (query-sized) and the final
    // per-query top-k (probed-candidate-sized). A third Window means the
    // corpus-side crossJoin+row_number shape is back (9.4 GB spill at the
    // x30 soak).
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(k => if (k == i % 4) 1f else 0.01f * ((i + k) % 3))))
      .toDF("vec_id", "embedding")
    val out = graft.functions.SimilarityFunctions.ivfTopK(
      vecs.where($"vec_id" >= 60), vecs, vecs.where($"vec_id" < 4),
      k = 3, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    val windows = plan.split("\n").count(_.matches(".*\\bWindow \\[.*"))
    assert(windows == 2, s"expected 2 Window nodes (probe + rank), got $windows:\n" +
      plan.split("\n").filter(_.contains("Window")).mkString("\n"))
    assert(!plan.contains("SortAggregate"),
      s"corpus argmax fell back to SortAggregate:\n${plan.take(1500)}")
    assert(out.count() > 0)
  }

  test("pqEncode is map-only: codebooks ride as literals, codes never shuffle") {
    // the PQ encode pass runs over the full 100 TB corpus — it must plan
    // as projections only (the assignBest rationale): argmin folds over
    // per-subspace array literals, no join/window/sort-agg/exchange
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(k => if (k == i % 4) 1f else 0.01f * ((i + k) % 3))))
      .toDF("vec_id", "embedding")
    val out = graft.functions.SimilarityFunctions.pqEncode(
      vecs, vecs.where($"vec_id" < 4), m = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"encode plans a join:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"encode plans a window:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"), s"argmin fell back to SortAggregate:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange"), s"encode shuffles:\n${plan.take(1500)}")
    assert(out.count() == 64L)
  }

  test("ivfResiduals is map-only: centroids ride as literals, residuals never shuffle") {
    // the residual pass is the 100 TB encode-side of IVFADC — like
    // pqEncode it must plan as projections only (argmax fold + map-literal
    // subtraction), no join/window/sort-agg/exchange
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(k => if (k == i % 4) 1f else 0.01f * ((i + k) % 3))))
      .toDF("vec_id", "embedding")
    val out = graft.functions.SimilarityFunctions.ivfResiduals(
      vecs, vecs.where($"vec_id" < 4))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"residuals plan a join:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"residuals plan a window:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"), s"argmax fell back to SortAggregate:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange"), s"residuals shuffle:\n${plan.take(1500)}")
    assert(out.count() == 64L)
  }
}

class IterativeRankSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("path graph 1-2-3: two iterations match the hand-unrolled integers") {
    // symmetrized path: deg(1)=deg(3)=1, deg(2)=2; ranks start at 1e9.
    // iter1: r(1)=r(3)=150e6+85%*(1e9 DIV 2)=575e6, r(2)=150e6+85%*2e9=1850e6
    // iter2: r(1)=150e6+85%*(1850e6 DIV 2)=936250000, r(2)=1127500000
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = graft.operators.IterativeRank(e, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 936250000L, 2L -> 1127500000L, 3L -> 936250000L))
  }

  test("regular graph is an exact fixed point of the integer iteration") {
    // 5-cycle: every node has deg 2 and receives exactly its own rank back,
    // so 150e6 + 85%*1e9 = 1e9 holds bit-exactly at every iteration.
    val cyc = (0L until 5L).flatMap(i => Seq((i, (i + 1) % 5), ((i + 1) % 5, i)))
      .toDF("src", "dst")
    val r = graft.operators.IterativeRank(cyc, iters = 4).as[(Long, Long)].collect()
    assert(r.length == 5 && r.forall(_._2 == 1000000000L))
  }
}

class TriangleCountSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    graft.operators.TriangleCount(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap

  test("K4: every vertex sits in C(3,2)=3 triangles") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(tri(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle-free graphs (path, star) count zero") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    assert(tri((2L to 9L).map(i => (1L, i))).isEmpty)
  }

  test("duplicate, reversed, and self-loop edges do not inflate counts") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (1L, 1L), (2L, 3L))
    assert(tri(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("two triangles sharing an edge: shared endpoints count both") {
    // {1,2,3} and {2,3,4} share edge 2-3
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(g) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("edge-scale persists are released; only the result frame stays cached") {
    // r12 release policy (r11 verdict item 4): each call used to leak its
    // `und` and `o` MEMORY_AND_DISK caches for the session lifetime. Now
    // only the small checkpointed result may remain per call, outside the
    // CacheManager: Spark frees it once the frame is unreachable.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    def persistedCount = spark.sparkContext.getPersistentRDDs.size
    val before = persistedCount
    val r1 = graft.operators.TriangleCount(g.toDF("src", "dst"), "src", "dst")
    val r2 = graft.operators.TriangleCount(g.toDF("src", "dst"), "src", "dst")
    r1.count(); r2.count()
    val after = persistedCount
    assert(after - before <= 2,
      s"expected at most the two result frames materialized, but $before -> $after")
    for (r <- Seq(r1, r2))
      assert(r.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the result frame is held by the CacheManager")
  }
}

class KCoreSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    graft.operators.KCore(edges.toDF("src", "dst"), "src", "dst", k)
      .as[(Long, Long)].collect().toMap

  test("triangle with a pendant tail: 2-core strips the tail transitively") {
    // 1-2-3 triangle, tail 3-4-5: removing 5 (deg 1) exposes 4 — two
    // peel rounds, exactly the cascade the fixpoint must follow
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(core(g, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("K5 survives 4-core intact; nothing survives 5-core") {
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    assert(core(k5, 4) == (1L to 5L).map(_ -> 4L).toMap)
    assert(core(k5, 5).isEmpty)
  }

  test("long path fully peels at k=2 (one layer per round)") {
    val path = (1L until 8L).map(i => (i, i + 1))
    assert(core(path, 2).isEmpty)
  }

  test("distributed rounds and the local tail reach the same fixpoint") {
    // K6 with three chains hanging off it: multi-round cascade, nonempty core
    val rng = new scala.util.Random(7)
    val k6 = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield (a, b)
    val chains = (0 until 3).flatMap(c =>
      (0 until 5).map(i => (10L + c * 10 + i, 10L + c * 10 + i + 1))) :+ (1L, 10L)
    val g = (k6 ++ chains).toDF("src", "dst")
    val local = graft.operators.KCore(g, "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    val distDf = graft.operators.KCore(g, "src", "dst", k = 3, localEdgeCutoff = 0L)
    val dist = distDf.as[(Long, Long)].collect().toMap
    assert(local == dist && local.nonEmpty, s"local=$local dist=$dist")
    // the distributed branch checkpoints its result: nothing in the
    // CacheManager for the caller to release
    assert(distDf.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}

class ZValueSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def z(x: Long, y: Long, bits: Int = 10): Long =
    Seq((x, y)).toDF("x", "y")
      .select(graft.functions.LayoutFunctions.zValue(col("x"), col("y"), bits).as("z"))
      .as[Long].head()

  test("interleaves bits: x on even, y on odd positions") {
    assert(z(0L, 0L) == 0L)
    assert(z(3L, 0L) == 5L)        // 0b11 -> 0b0101
    assert(z(0L, 3L) == 10L)       // 0b11 -> 0b1010
    assert(z(5L, 3L) == 27L)       // x=0b101->0b010001, y=0b011->0b001010
    assert(z(1023L, 1023L) == (1L << 20) - 1)
  }

  test("z-locality: nearby points share high-order bucket bits") {
    // all 4 points of a 2x2 cell aligned at even coords land in one
    // 4-wide z-range — the property zone-map pruning relies on
    val cell = for (dx <- 0L to 1L; dy <- 0L to 1L) yield z(8L + dx, 4L + dy) / 4
    assert(cell.distinct.size == 1)
  }
}

class SparseSimJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("exact integer cosine over candidates from rare shared terms") {
    // A={x,y}, B={x,z}, C={w,z}: df(x)=df(z)=2 <= maxDf, so A-B and B-C
    // are candidates; cos = 1/(sqrt(2)*sqrt(2)) = 0.5 exactly.
    val p = Seq((1L, "x", 1L), (1L, "y", 1L), (2L, "x", 1L), (2L, "z", 1L),
      (3L, "w", 1L), (3L, "z", 1L)).toDF("id", "term", "tf")
    val out = graft.operators.SparseSimJoin(p, "id", "term", "tf", maxDf = 2, minCosine = 0.0)
      .select($"id1", $"id2", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 0.5), (2L, 3L, 0.5)))
  }

  test("pairs sharing only terms above maxDf are excluded by contract") {
    // three docs all share only 'c' (df=3 > maxDf=2) -> no candidates,
    // even though their pairwise cosine is 1.0
    val p = Seq((1L, "c", 1L), (2L, "c", 1L), (3L, "c", 1L)).toDF("id", "term", "tf")
    assert(graft.operators.SparseSimJoin(p, "id", "term", "tf", 2, 0.0).count() == 0L)
  }

  test("dot uses ALL shared terms, not just the rare blocking terms") {
    // blocking term r (df=2) admits the pair; the ubiquitous-within-pair
    // term c still contributes to the dot: v1={r:1,c:2}, v2={r:1,c:3}
    // dot=1+6=7, norms sqrt(5)*sqrt(10) -> cos=7/sqrt(50)
    val p = Seq((1L, "r", 1L), (1L, "c", 2L), (2L, "r", 1L), (2L, "c", 3L))
      .toDF("id", "term", "tf")
    val row = graft.operators.SparseSimJoin(p, "id", "term", "tf", 2, 0.0)
      .select($"dot", $"cosine").as[(Long, Double)].collect()
    assert(row.length == 1 && row(0)._1 == 7L)
    assert(math.abs(row(0)._2 - 7.0 / math.sqrt(50.0)) < 1e-6)
  }

  test("packed-array plan matches the row-join reference plan on random postings") {
    // small vocabulary + skewed tfs: dense term collisions exercise the
    // merge-intersection against the term-equality join, including pairs
    // whose shared-term sets mix rare (blocking) and common terms
    val rng = new scala.util.Random(1234)
    val vocab = (0 until 30).map(i => f"t$i%02d")
    val rows = for {
      id <- 1L to 40L
      t <- rng.shuffle(vocab).take(3 + rng.nextInt(6))
    } yield (id, t, 1L + rng.nextInt(4))
    val p = rows.toDF("id", "term", "tf")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"id1", $"id2", $"dot", $"cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    val fast = key(graft.operators.SparseSimJoin(p, "id", "term", "tf", 6, 0.1))
    val slow = key(graft.operators.SparseSimJoin.applyRowJoin(p, "id", "term", "tf", 6, 0.1))
    assert(fast == slow,
      s"missing=${(slow -- fast).take(3)} extra=${(fast -- slow).take(3)}")
    assert(fast.nonEmpty, "degenerate test: no candidate pairs at all")
    // the merge kernel's unique-sorted-key assumption: no two distinct
    // terms of one document may collide in the 60-bit md5 key (the
    // documented caveat in SparseSimJoin.apply — assert, don't hope)
    val collisions = p
      .select($"id", $"term",
        conv(substring(md5($"term"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"id", $"h").agg(countDistinct($"term").as("nterms"))
      .where($"nterms" > 1).count()
    assert(collisions == 0L, s"60-bit in-document key collisions: $collisions")
  }
}

class CdcChunksSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import graft.functions.TextFunctions.cdcChunks
  import org.apache.spark.sql.functions.{col, split, array_join, lit}

  private def chunksOf(text: String): Seq[String] =
    Seq(text).toDF("text").select(split(col("text"), " ").as("toks"))
      .select(cdcChunks(col("toks")).as("c")).as[Seq[String]].head()

  test("chunks partition the document exactly") {
    val rng = new scala.util.Random(11)
    val words = Vector("a", "bb", "ccc", "dd", "e", "ffff", "g", "hh")
    for (_ <- 1 to 20) {
      val doc = Seq.fill(3 + rng.nextInt(60))(words(rng.nextInt(words.size))).mkString(" ")
      assert(chunksOf(doc).mkString(" ") == doc)
    }
  }

  test("kernel form is byte-identical to the declarative form") {
    // r11: the CDC gates run the tight-loop kernel (cdcChunksKernel); the
    // declarative expression stays the specification — pin equality on
    // random docs including the degenerate sizes (0..4 tokens, where cut
    // candidates vanish and a single whole-doc chunk must come back)
    import graft.functions.TextFunctions.cdcChunksKernel
    val rng = new scala.util.Random(23)
    val words = Vector("a", "bb", "ccc", "dd", "e", "ffff", "g", "hh", "i0", "j12")
    val docs = (0 to 4).map(n => Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")) ++
      (1 to 30).map(_ => Seq.fill(1 + rng.nextInt(80))(words(rng.nextInt(words.size))).mkString(" "))
    val df = docs.toDF("text").select(split(col("text"), " ").as("toks"))
    val both = df.select(cdcChunks(col("toks")).as("a"),
        cdcChunksKernel(col("toks")).as("b"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (a, b) => assert(a == b, s"kernel diverged: $a vs $b") }
  }

  test("boundaries are content-local: chunks far from an edit are unchanged") {
    // CDC's contract vs fixed-stride chunking: inserting a token early in
    // the doc must leave the trailing chunks' TEXT identical (only their
    // positions shift). Shared suffix chunks must be non-trivial.
    val rng = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = Seq.fill(400)(words(rng.nextInt(words.size)))
    val edited = (base.take(5) :+ "INSERTED") ++ base.drop(5)
    val a = chunksOf(base.mkString(" "))
    val b = chunksOf(edited.mkString(" "))
    val sharedSuffix = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.size
    assert(sharedSuffix >= a.size - 4,
      s"edit perturbed ${a.size - sharedSuffix} leading chunks of ${a.size}")
    assert(a.size > 20)
  }

  test("short and empty documents yield one whole-document chunk") {
    assert(chunksOf("x y z") == Seq("x y z"))
    assert(chunksOf("") == Seq(""))
  }
}

class QuerySmokeSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  // Queries whose CORRECT result at the tiny smoke scale is empty — the
  // oracle still compares them (empty == empty). q_kcore: at sf0.001 every
  // vertex peels in round 1 (k=10 against a ~30-vertex co-activity graph),
  // so the maximal 10-core is genuinely {} on both engines.
  private val emptyOkAtSmokeScale = Set("q_kcore")

  test("every declared query returns rows on sf0.001") {
    val failures = SparkEntry.all.flatMap { q =>
      try {
        val n = q.run(spark, "/root/testdata/sf0.001").limit(5).count()
        if (n > 0 || emptyOkAtSmokeScale(q.name)) None
        else Some(s"${q.name}: 0 rows")
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
