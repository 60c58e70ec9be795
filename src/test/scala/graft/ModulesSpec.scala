package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Backend
import graft.multimodal.Multimodal
import graft.streaming.StreamingOps

class BackendSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  test("resolution precedence: explicit > conf > default; unknown rejected") {
    assert(Backend.resolve(None, spark) == Backend.Builtin)
    assert(Backend.resolve(Some("kernel"), spark) == Backend.Kernel)
    Backend.withBackend(spark, Backend.Kernel) {
      assert(Backend.resolve(None, spark) == Backend.Kernel)
    }
    assert(Backend.resolve(None, spark) == Backend.Builtin) // restored
    assertThrows[IllegalArgumentException](Backend.resolve(Some("cython"), spark))
  }

  test("negative parallelism counts down from all cores, clamped to >= 1") {
    val all = spark.sparkContext.defaultParallelism
    assert(Backend.normalizeParallelism(-1, spark) == all)
    assert(Backend.normalizeParallelism(-all - 5, spark) == 1)
    assert(Backend.normalizeParallelism(2, spark) == math.min(2, all))
  }

  test("backend matrix: builtin and kernel minhash agree byte-for-byte") {
    import spark.implicits._
    val df = Seq("spark scan filter join agg window sort limit",
                 "completely different text with other words here").toDF("text")
    val b = df.select(graft.api.Graft.minhashSignature(spark, $"text", 3,
      Some("builtin")): _*).collect().map(_.toSeq)
    val k = df.select(graft.api.Graft.minhashSignature(spark, $"text", 3,
      Some("kernel")): _*).collect().map(_.toSeq)
    assert(b.toSeq == k.toSeq)
  }

  test("variant knobs: defaults mirror the reference dataclasses, values validate") {
    // defaults = Cython(fast=False) / Numba(parallel=True, nogil=True,
    // cache=True) — backend.py:41-92
    val v = Backend.variant(spark)
    assert(v == Backend.Variant(fast = false, parallel = true, nogil = true, cache = true))
    // non-boolean rejected like resolve_backend rejects unknown names
    spark.conf.set(Backend.ParallelKey, "yes")
    try assertThrows[IllegalArgumentException](Backend.variant(spark))
    finally spark.conf.unset(Backend.ParallelKey)
  }

  test("variant knobs: scoped set/restore, fast=true is a warn-no-op with identical results") {
    import spark.implicits._
    val df = Seq("spark scan filter join agg window sort limit").toDF("text")
    def sig(backend: Option[String]) = df.select(
      graft.api.Graft.minhashSignature(spark, $"text", 3, backend): _*).collect().map(_.toSeq).toSeq
    val base = sig(Some("builtin"))
    val fast = Backend.withBackendVariant(spark, Backend.Builtin, Backend.FastKey -> "true") {
      assert(Backend.variant(spark).fast)
      sig(None)
    }
    assert(fast == base) // fast=true changes nothing (backend.py:45-46)
    assert(spark.conf.getOption(Backend.FastKey).isEmpty) // restored
    val knobbed = Backend.withBackendVariant(spark, Backend.Kernel,
      Backend.ParallelKey -> "false", Backend.NogilKey -> "false", Backend.CacheKey -> "false") {
      val v = Backend.variant(spark)
      assert(!v.parallel && !v.nogil && !v.cache)
      sig(None)
    }
    assert(knobbed == base)
    assert(spark.conf.getOption(Backend.ParallelKey).isEmpty) // restored
    // invalid knob value rejected up front, conf still restored
    assertThrows[IllegalArgumentException](
      Backend.withBackendVariant(spark, Backend.Kernel, Backend.CacheKey -> "7")(()))
    assert(spark.conf.getOption(Backend.CacheKey).isEmpty)
  }
}

class StreamingSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("watermarked windowed counts over a memory stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val agg = StreamingOps.windowedCounts(df, "ts", "user_id", "10 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00")
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:12:00")
      mem.addData((t0, 1L, 2.0), (t1, 1L, 3.0), (t2, 1L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc").select("n", "total_value").as[(Long, Double)].collect().toSet
      assert(rows.contains((2L, 5.0))) // two events in the first window
      assert(rows.contains((1L, 5.0))) // one in the second
    } finally q.stop()
  }

  test("streaming dedup by content hash") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    val q = StreamingOps.deduped(df, "ts", "text", "1 minute")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData((t, "aaa"), (t, "bbb"), (t, "aaa"))
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("concurrent AvailableNow drains restore the session conf and keep their rows") {
    // a complete-mode drain switches the trailing no-data batch off for its
    // own query; an append-mode session-window drain needs that batch to
    // close its sessions. Running both kinds at once must neither leak the
    // override into the session nor into the other drain.
    TempDirs.withTempDir("graft_drains") { dir =>
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // 7 users, one event each 70 minutes: every event is its own session
      (0 until 140).map(i => (i % 7L, new java.sql.Timestamp(t0 + i * 600000L)))
        .toDF("user_id", "ts").write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      def src = spark.readStream.schema(schema).parquet(dir)
      def sessions(): Set[org.apache.spark.sql.Row] = StreamingOps.runAvailableNow(
        src.withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id")).count()
          .select(col("session_window.start"), col("user_id"), col("count")),
        "drain_sessions", outputMode = "append").collect().toSet
      def windows(): Set[org.apache.spark.sql.Row] = StreamingOps.runAvailableNow(
        src.groupBy(window(col("ts"), "1 hour"), col("user_id")).count()
          .select(col("window.start"), col("user_id"), col("count")),
        "drain_windows").collect().toSet
      val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.checkpointFileManagerClass")
      val conf0 = keys.map(spark.conf.getOption)
      val (soloSessions, soloWindows) = (sessions(), windows())
      assert(soloSessions.nonEmpty && soloWindows.nonEmpty)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val runs = (0 until 8).map { i =>
          scala.concurrent.Future(if (i % 2 == 0) ("sessions", sessions() == soloSessions)
            else ("windows", windows() == soloWindows))
        }
        val results = scala.concurrent.Await.result(scala.concurrent.Future.sequence(runs),
          scala.concurrent.duration.Duration(5, "min"))
        results.foreach { case (what, same) => assert(same, s"a concurrent $what drain differs") }
      } finally pool.shutdown()
      assert(keys.map(spark.conf.getOption) == conf0)
    }
  }

  test("a failed AvailableNow drain rethrows, restores the session conf and leaves no checkpoint dir") {
    TempDirs.withTempDir("graft_drain_fail") { dir =>
      (0 until 40).map(i => (i % 4L, i.toDouble)).toDF("user_id", "value")
        .write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val boom = udf { (v: Double) =>
        if (v >= 0) throw new IllegalStateException("drain gate failed on purpose")
        v
      }
      val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.checkpointFileManagerClass")
      val conf0 = keys.map(spark.conf.getOption)
      // a drain's own checkpoint dir, or the temporary-* one Spark makes
      // when it is given none
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      def checkpointDirs() = Option(tmp.list()).toSeq.flatten
        .filter(n => n.startsWith("graft-ckpt") || n.startsWith("temporary-")).toSet
      val before = checkpointDirs()
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingOps.runAvailableNow(
          spark.readStream.schema(schema).parquet(dir)
            .groupBy("user_id").agg(sum(boom(col("value"))).as("s")),
          "drain_fail")
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("drain gate failed on purpose")),
        s"the UDF's error is not in the cause chain: $err")
      assert(keys.map(spark.conf.getOption) == conf0)
      val left = checkpointDirs() -- before
      assert(left.isEmpty, s"the failed drain left ${left.mkString(", ")} in $tmp")
    }
  }

  test("AvailableNow drains leave no temp views behind and keep their rows") {
    TempDirs.withTempDir("graft_drain_views") { dir =>
      (0 until 60).map(i => (i % 5L, i.toDouble)).toDF("user_id", "value")
        .write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val expected = spark.read.parquet(dir).groupBy("user_id").agg(sum("value").as("s"))
        .as[(Long, Double)].collect().toSet
      def drainViews() = spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("drain_views_")).map(_.name)
      val drained = (0 until 3).map { _ =>
        StreamingOps.runAvailableNow(
          spark.readStream.schema(schema).parquet(dir)
            .groupBy("user_id").agg(sum("value").as("s")),
          "drain_views")
      }
      assert(drainViews().isEmpty, s"drains left temp views: ${drainViews().mkString(", ")}")
      drained.foreach(df => assert(df.as[(Long, Double)].collect().toSet == expected))
    }
  }

  test("mapGroupsWithState profile survives a user split across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = StreamingOps.statefulUserAgg(df)
      .writeStream.format("memory").queryName("sp").outputMode("update").start()
    try {
      // user 7's history arrives in TWO batches; state must carry across
      mem.addData((7L, 100L, "click", 1.5), (7L, 200L, "purchase", 9.0))
      q.processAllAvailable()
      mem.addData((7L, 300L, "purchase", 4.0), (8L, 50L, "click", 2.0))
      q.processAllAvailable()
      val fin = StreamingOps.latestProfiles(spark.table("sp"))
        .as[(Long, Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
      assert(fin(7L) == ((7L, 3L, 2L, 9.0, 300L)))
      assert(fin(8L) == ((8L, 1L, 0L, 2.0, 50L)))
    } finally q.stop()
  }
  test("asOfEnrich agrees with the batch AsOfJoin backward rule on random data") {
    // the streaming op is a broadcast binary search; the batch operator is
    // a union+window shuffle — same semantics, different machinery, so a
    // brute differential over random keys/times/duplicate timestamps pins
    // the (greatest ts <= t, ties to max payload) contract across both
    val rng = new scala.util.Random(99)
    val stream = (1 to 150).map(i =>
      (i.toLong, 1L + rng.nextInt(6), rng.nextInt(80).toLong)).toDF("id", "k", "t")
    val dim = (1 to 60).map(_ =>
      (1L + rng.nextInt(6), rng.nextInt(80).toLong, rng.nextInt(30).toLong))
      .toDF("k", "rt", "pay")
    val viaEnrich = StreamingOps.asOfEnrich(stream, dim,
        "k", "t", "k", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[Long])].collect().toMap
    val viaJoin = graft.operators.AsOfJoin(stream, dim, "k", "k", "t", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[Long])].collect().toMap
    assert(viaEnrich == viaJoin,
      s"diff=${viaEnrich.collect { case (k, v) if viaJoin(k) != v => (k, v, viaJoin(k)) }.take(5)}")
    assert(viaEnrich.values.exists(_.isDefined) && viaEnrich.values.exists(_.isEmpty))
  }

  test("asOfEnrich rejects a dimension over the broadcast cap") {
    // broadcast-sized is a CONTRACT: over MaxDimRows the collect must fail
    // loudly (the ScatteredInterp.MaxDriverPoints house pattern), not OOM
    // the driver
    val stream = Seq((1L, 1L, 1L)).toDF("id", "k", "t")
    val big = spark.range(StreamingOps.MaxDimRows + 1L)
      .selectExpr("id AS k", "id AS rt", "id AS pay")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.asOfEnrich(stream, big, "k", "t", "k", "rt", "pay", "m")
    }
    assert(e.getMessage.contains("interval join"))
  }
}
class MultimodalSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._

  test("decode -> resize pipeline produces the declared shapes") {
    val df = Seq((1L, "hello world".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("id", "payload")
    val decoded = Multimodal.decode(df, "id", "payload")
    val d = decoded.collect().sortBy(_.id)
    assert(d.forall(x => x.meta.width == 8 && x.meta.height == 8 && x.pixels.length == 64))
    assert(d(1).pixels.forall(_ == 0.0)) // empty payload
    // deterministic: same payload, same pixels
    val d2 = Multimodal.decode(df, "id", "payload").collect().sortBy(_.id)
    assert(d(0).pixels.sameElements(d2(0).pixels))

    val resized = Multimodal.resize(decoded, 4, 4).collect()
    assert(resized.forall(x => x.pixels.length == 16 && x.meta.width == 4))
  }

  test("real imageio decode: PNG gray8 round-trip is lossless") {
    val px = Array.tabulate(64)(i => (i * 37 + 11) % 256)
    val png = Multimodal.encodeGrayPng(8, 8, px)
    // PNG magic present, and the real decoder (not the stub) handles it
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val (meta, decoded) = Multimodal.decodeImage(png).get
    assert(meta == Multimodal.MediaMeta("png", 8, 8, 1))
    assert(decoded.sameElements(px.map(_.toDouble)))
    // the Dataset decode path routes recognized payloads to imageio
    val df = Seq((7L, png)).toDF("id", "payload")
    val d = Multimodal.decode(df, "id", "payload").collect().head
    assert(d.meta.format == "png" && d.pixels.sameElements(px.map(_.toDouble)))
  }

  test("real imageio decode: RGB PNG keeps 3 interleaved bands") {
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0x102030)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (meta, px) = Multimodal.decodeImage(bos.toByteArray).get
    assert(meta.width == 2 && meta.height == 2 && meta.channels == 3)
    assert(px.length == 12)
    // row-major (y, x, band): first pixel pure red, second pure green
    assert(px.slice(0, 3).sameElements(Array(255.0, 0.0, 0.0)))
    assert(px.slice(3, 6).sameElements(Array(0.0, 255.0, 0.0)))
    assert(px.slice(9, 12).sameElements(Array(16.0, 32.0, 48.0)))
  }

  test("unrecognized payloads fall back to the stub backend") {
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    val (meta, _) = Multimodal.decodeStub("x".getBytes("UTF-8"))
    assert(meta.format == "stub-gray8")
  }

  test("frame sampling and metadata") {
    val df = Seq((1L, Array.tabulate(100)(_.toByte))).toDF("id", "payload")
    val sampled = Multimodal.sampleFrames(df, "payload", frameBytes = 10, everyK = 2)
    assert(sampled.select("n_frames").as[Int].head() == 5) // 10 frames, every 2nd
    val m = Multimodal.meta(df, "payload").select("n_bytes").as[Long].head()
    assert(m == 100L)
  }

  test("wav pcm16 round-trip is exact; chunk walk skips extra chunks") {
    val samples = Array.tabulate(128)(i => ((i * 523) % 4096 - 2048).toShort)
    val wav = Multimodal.encodeWavPcm16(16000, samples)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    val (meta, s) = Multimodal.decodeWav(wav).get
    assert(meta == Multimodal.AudioMeta("wav-pcm16", 16000, 1, 16, 128))
    assert(s.sameElements(samples.map(_.toDouble)))
    // a LIST chunk between fmt and data must be walked over, not break parse
    val bb = java.nio.ByteBuffer.allocate(wav.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wav, 0, 36) // RIFF header + fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    bb.put(wav, 36, wav.length - 36) // data chunk
    val withList = bb.array()
    // fix RIFF size field (bytes 4..7) to the new payload size
    val fixed = java.nio.ByteBuffer.wrap(withList).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fixed.putInt(4, withList.length - 8)
    val (meta2, s2) = Multimodal.decodeWav(withList).get
    assert(meta2.sampleRate == 16000 && s2.sameElements(s))
  }

  test("audio resample through the zoom kernel preserves endpoints") {
    val samples = Array.tabulate(64)(i => (i * 10).toShort)
    val df = Seq((1L, Multimodal.encodeWavPcm16(8000, samples))).toDF("id", "payload")
    val out = Multimodal.resampleAudio(Multimodal.decodeAudio(df, "id", "payload"), 16)
      .collect().head
    assert(out.meta.nSamples == 16 && out.samples.length == 16)
    // order-1 zoom with adjusted_coef maps endpoints to endpoints exactly
    assert(out.samples.head == 0.0 && out.samples.last == 630.0)
  }

  test("non-wav audio payloads fall back to the audio stub") {
    assert(Multimodal.decodeWav("definitely not riff data, too short?".getBytes).isEmpty)
    val df = Seq((1L, "plain text".getBytes("UTF-8"))).toDF("id", "payload")
    val d = Multimodal.decodeAudio(df, "id", "payload").collect().head
    assert(d.meta.format == "stub-pcm" && d.samples.length == 64)
  }
}

class DotProductSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import graft.functions.SimilarityFunctions

  test("codegen dot equals interpreted fold bit-for-bit on float arrays") {
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rng.nextFloat() * 2 - 1),
      Seq.fill(64)(rng.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      SimilarityFunctions.dot($"a", $"b").as("fast"),
      SimilarityFunctions.dotHof($"a", $"b").as("ref")).as[(Double, Double)].collect()
    out.foreach { case (f, r) => assert(f == r, s"$f != $r") }
  }

  test("dot handles double arrays and empty arrays") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)), (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
    val out = df.select(SimilarityFunctions.dot($"a", $"b")).as[Double].collect()
    assert(out(0) == 32.0 && out(1) == 0.0)
  }
}

class CenterOfMassAggSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("matches the relational weighted mean on slice rows") {
    val rng = new scala.util.Random(4)
    val (rows, cols, slices) = (4, 5, 3)
    val data = Seq.tabulate(slices)(s => (s.toLong, Seq.fill(rows * cols)(rng.nextDouble())))
    val df = data.toDF("id", "data")
    val got = df.agg(graft.exprs.CenterOfMassAgg.centerOfMass(
      $"data", lit(rows), lit(cols), $"id")).as[Seq[Double]].head()
    // brute-force expectation
    var sw = 0.0; var ss = 0.0; var si = 0.0; var sj = 0.0
    for ((s, d) <- data; i <- 0 until rows; j <- 0 until cols) {
      val w = d(i * cols + j)
      sw += w; ss += w * s; si += w * i; sj += w * j
    }
    assert(math.abs(got(0) - ss / sw) < 1e-9)
    assert(math.abs(got(1) - si / sw) < 1e-9)
    assert(math.abs(got(2) - sj / sw) < 1e-9)
  }

  test("empty input yields null") {
    val df = Seq.empty[(Long, Seq[Double])].toDF("id", "data")
    val got = df.agg(graft.exprs.CenterOfMassAgg.centerOfMass(
      $"data", lit(2), lit(2), $"id")).collect()(0)
    assert(got.isNullAt(0))
  }

  test("vectorized (ComPartialSums) and RDD (VolumeCom) paths match the typed agg") {
    val rng = new scala.util.Random(11)
    val (rows, cols, slices) = (6, 7, 5)
    val data = Seq.tabulate(slices)(s => (s.toLong, Array.fill(rows * cols)(rng.nextDouble())))
    val df = data.map { case (s, d) => (s, d.toSeq) }.toDF("id", "data")

    val agg = df.agg(graft.exprs.CenterOfMassAgg.centerOfMass(
      $"data", lit(rows), lit(cols), $"id")).as[Seq[Double]].head()
    val vec = graft.exprs.ComPartialSums.centerOfMassVolume(
      df, $"data", lit(rows), lit(cols), $"id")
      .as[(Double, Double, Double)].head()
    val rdd = graft.operators.VolumeCom.centerOfMass(
      spark.sparkContext.parallelize(data, 2), rows, cols)

    // per-slice partials are bit-identical across the three paths (see the
    // com_partial test); the cross-partition merge order is scheduler-
    // dependent, so the final sums may differ in the last ulp
    for (k <- 0 until 3) {
      assert(math.abs(vec.productElement(k).asInstanceOf[Double] - agg(k)) < 1e-12)
      assert(math.abs(rdd(k) - agg(k)) < 1e-12)
    }
  }

  test("com_partial per-row values equal the kernel partial") {
    val d = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val df = Seq((3L, d.toSeq)).toDF("id", "data")
    val got = df.select(graft.exprs.ComPartialSums.comPartial(
      $"data", lit(2), lit(3), $"id")).as[Seq[Double]].head()
    assert(got == graft.operators.VolumeCom.partial(3L, d, 2, 3).toSeq)
  }
}

class GraphCCSpec extends AnyFunSuite {
  test("min-label components over chains, cliques, and isolated vertices") {
    implicit val s: org.apache.spark.sql.SparkSession = SharedSpark.spark
    val verts = s.sparkContext.parallelize(0L to 9L)
    // chain 0-1-2-3-4 (exercises pointer doubling), triangle 5-6-7,
    // isolated 8 and 9
    val edges = s.sparkContext.parallelize(
      Seq((1L, 0L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L)))
    val got = graft.operators.GraphCC.minLabels(verts, edges).collect().toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((5L to 7L).forall(got(_) == 5L))
    assert(got(8L) == 8L && got(9L) == 9L)
  }

  test("edge cutoff routes dense small-vertex graphs to the fixpoint (ADVICE r10)") {
    // edgeCutoff = 0 simulates a pair graph whose edge list overflows the
    // single-task bound while the vertex count sits under LocalVertexCutoff:
    // the fixpoint + contraction finish must produce the same labels
    implicit val s: org.apache.spark.sql.SparkSession = SharedSpark.spark
    val verts = s.sparkContext.parallelize(0L to 9L)
    val edges = s.sparkContext.parallelize(
      Seq((1L, 0L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L)))
    val got = graft.operators.GraphCC.minLabels(verts, edges, edgeCutoff = 0L)
      .collect().toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((5L to 7L).forall(got(_) == 5L))
    assert(got(8L) == 8L && got(9L) == 9L)
  }

  test("distributed rounds + contraction finish: 600 chains of 100 over multiple partitions") {
    // > 50k vertices forces the multi-partition propagation loop (not the
    // single-task union-find), and chain shapes force enough rounds that
    // churn decays through the contraction trigger — the r10 local-finish
    // path (contracted residual -> driver union-find) must produce the
    // exact per-chain minimum for every vertex
    implicit val s: org.apache.spark.sql.SparkSession = SharedSpark.spark
    val chains = 600
    val len = 100
    val verts = s.sparkContext.range(0L, chains.toLong * len, numSlices = 8)
    val edges = s.sparkContext.range(0L, chains.toLong * len, numSlices = 8)
      .filter(v => v % len != len - 1).map(v => (v, v + 1))
    // localCutoff = 0 forces the distributed fixpoint (the production
    // default would absorb 60k vertices in the single-task union-find)
    val got = graft.operators.GraphCC.minLabels(verts, edges, localCutoff = 0L).collect()
    assert(got.length == chains * len)
    got.foreach { case (v, l) =>
      assert(l == (v / len) * len, s"vertex $v labeled $l, expected ${(v / len) * len}")
    }
  }

  test("one unpersist releases the labels of a fixpoint that ends without the finish") {
    // an edgeless graph converges in its first distributed round, so the
    // contraction finish never runs; the returned RDD must be the persisted
    // one itself, not a view whose unpersist misses its backing RDD.
    // Compared by id, not by count: the ContextCleaner may unpersist an
    // earlier test's unreferenced RDD while this one runs
    implicit val s: org.apache.spark.sql.SparkSession = SharedSpark.spark
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val labels = graft.operators.GraphCC.minLabels(
      s.sparkContext.parallelize(0L to 9L), s.sparkContext.emptyRDD[(Long, Long)],
      localCutoff = 0L)
    assert(labels.collect().toMap == (0L to 9L).map(v => v -> v).toMap)
    labels.unpersist(blocking = true)
    val left = persisted -- before
    assert(left.isEmpty, s"RDDs ${left.mkString(", ")} still persisted after the unpersist")
  }
}

class Interp1dExprSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("expression output is bit-identical to the kernel (interior, fill, extrapolation)") {
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(20) { i =>
      val n = 2 + rng.nextInt(8)
      val xs = Array.tabulate(n)(_.toDouble)
      val ys = Array.fill(n)(rng.nextDouble() * 10 - 5)
      (i.toLong, xs.toSeq, ys.toSeq)
    }
    val xq = Array(-1.5, 0.0, 0.25, 1.75, 3.5, 9.5)
    for (extrap <- Seq(true, false)) {
      val got = rows.toDF("id", "xs", "ys")
        .select($"id", graft.exprs.Interp1dExpr.interp1dArr(
          $"xs", $"ys", array(xq.map(lit): _*), lit(extrap), lit(-7.0)).as("y"))
        .as[(Long, Seq[Double])].collect().toMap
      rows.foreach { case (id, xs, ys) =>
        val want = graft.kernels.Interp1dKernel.interp(
          xs.toArray, ys.toArray, xq, extrap, -7.0)
        assert(got(id) == want.toSeq, s"row $id extrap=$extrap")
      }
    }
  }

  test("null input array yields null output") {
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]])).toDF("xs", "ys")
    val out = df.select(graft.exprs.Interp1dExpr.interp1dArr(
      $"xs", $"ys", array(lit(0.5)), lit(false), lit(0.0))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("all-literal (non-nullable) children take the FalseLiteral codegen branch") {
    // with no nullable child, ev.isNull is the literal "false" — the
    // generated code must not redeclare it as a variable
    val df = spark.range(3).select(
      graft.exprs.Interp1dExpr.interp1dArr(
        typedlit(Array(0.0, 1.0)), typedlit(Array(5.0, 7.0)), typedlit(Array(0.5)),
        lit(false), lit(0.0)).as("y"),
      graft.api.Graft.binaryErosion(
        typedlit(Array(true, true, true)), typedlit(Array(3))).as("m"),
      graft.exprs.Kernels.zoom(typedlit(Array(1.0, 2.0)), typedlit(Array(2)),
        typedlit(Array(2.0)), lit(0), lit(0.0)).getField("_1").as("z"))
    val r = df.collect()
    assert(r.forall(_.getSeq[Double](0) == Seq(6.0)))
    assert(r.forall(_.getSeq[Double](2) == Seq(1.0, 1.0, 2.0, 2.0)))
  }
}

class GraftMorphologySpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  test("all four default-cross morphology calls return null for a null mask row") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("mask", ArrayType(BooleanType, containsNull = false), nullable = true)))
    val m = Array(true, true, false, true, true, true, false, false, true)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(0L, m.toSeq), Row(1L, null)), 2), schema)
    val shape = array(lit(3), lit(3))
    val (fp, fs) = graft.kernels.StencilKernel.crossFootprint(2)
    val sh = Array(3, 3)
    val calls = Seq(
      "erosion" -> (graft.api.Graft.binaryErosion(col("mask"), shape),
        graft.kernels.StencilKernel.erode(m, sh, fp, fs)),
      "dilation" -> (graft.api.Graft.binaryDilation(col("mask"), shape),
        graft.kernels.StencilKernel.dilate(m, sh, fp, fs)),
      "closing" -> (graft.api.Graft.binaryClosing(col("mask"), shape),
        graft.kernels.StencilKernel.close(m, sh, fp, fs)),
      "opening" -> (graft.api.Graft.binaryOpening(col("mask"), shape),
        graft.kernels.StencilKernel.open(m, sh, fp, fs)))
    calls.foreach { case (name, (c, want)) =>
      val got = df.select(col("id"), c.as("r")).collect().map(r => r.getLong(0) -> r).toMap
      assert(got(1L).isNullAt(1), s"$name of a null row")
      assert(got(0L).getSeq[Boolean](1) == want.toSeq, s"$name of a mask row")
    }
  }
}

class ExtensionsSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val dot = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    import spark.implicits._
    Seq((0L, Seq(1.0, 3.0))).toDF("id", "data").createOrReplaceTempView("slices_t")
    val com = spark.sql(
      "SELECT center_of_mass_agg(data, 1, 2, id) AS c FROM slices_t")
      .collect()(0).getSeq[Double](0)
    // weights (1,3) at cols (0,1): col com = 3/4
    assert(math.abs(com(2) - 0.75) < 1e-12)
  }

  test("kernel-bridge expressions are callable from SQL") {
    GraftExtensions.register(spark)
    val z = spark.sql(
      "SELECT graft_zoom(array(1.0d, 2.0d), array(2), array(2.0d), 0, 0.0d)._1 AS z")
      .collect()(0).getSeq[Double](0)
    assert(z == Seq(1.0, 1.0, 2.0, 2.0))
    val y = spark.sql(
      """SELECT graft_interp1d(array(0.0d, 1.0d), array(10.0d, 20.0d),
        |array(0.5d), false, -1.0d) AS y""".stripMargin)
      .collect()(0).getSeq[Double](0)
    assert(y == Seq(15.0))
    val m = spark.sql(
      "SELECT graft_morph(array(true, true, false), array(3), false) AS m")
      .collect()(0).getSeq[Boolean](0)
    assert(m == graft.kernels.StencilKernel.erodeDefault(
      Array(true, true, false), Array(3)).toSeq)
    val img = Array.tabulate(16)(i => if (i == 5 || i == 6 || i == 9 || i == 10) 1.0 else 0.0)
    val theta = Array(0.0, 45.0, 90.0)
    def sqlArray(a: Array[Double]) = a.map(v => s"${v}d").mkString("array(", ", ", ")")
    val sino = spark.sql(s"SELECT graft_radon(${sqlArray(img)}, 4, ${sqlArray(theta)}) AS s")
      .collect()(0).getSeq[Double](0)
    assert(sino == graft.kernels.RadonKernel.radonSlice(img, 4, theta).toSeq)
    val rec = spark.sql(
      s"SELECT graft_iradon(${sqlArray(sino.toArray)}, 4, ${sqlArray(theta)}, 0.0d) AS r")
      .collect()(0).getSeq[Double](0)
    assert(rec == graft.kernels.RadonKernel.inverseRadonSlice(sino.toArray, 4, theta, 0.0).toSeq)
  }
}

class BandJoinRewriteSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def withRule[T](body: => T): T = {
    graft.plans.JoinRewrites.setup(spark)
    body
  }

  // every declared query installs the join rewrites session-wide
  // (JoinRewrites.setup via Q.run; QuerySmokeSpec runs them in this shared
  // session), so the naive-plan reference must explicitly strip the rule
  // rather than assume a clean session
  private def withoutRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.BandJoinRewrite)
    try body finally spark.experimental.extraOptimizations = saved
  }

  // negative ordinates on purpose: floor bucketing must hold across zero
  private val a = Seq((1L, -7L), (2L, -2L), (3L, 0L), (4L, 9L), (5L, 23L))
    .toDF("ida", "ta")
  private val b = Seq((10L, -9L), (20L, 1L), (30L, 11L), (40L, 100L))
    .toDF("idb", "tb")

  test("key-less abs-band join re-plans from nested-loop to hash join") {
    val expected = withoutRule {
      val naive = a.join(b, abs(col("ta") - col("tb")) <= 5)
      assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"),
        "precondition: without the rule this is a nested-loop join")
      naive.select("ida", "idb").as[(Long, Long)].collect().sorted
    }
    withRule {
      val rewritten = a.join(b, abs(col("ta") - col("tb")) <= 5)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"band join not rewritten:\n${plan.take(2000)}")
      val got = rewritten.select("ida", "idb").as[(Long, Long)].collect().sorted
      assert(got.toSeq == expected.toSeq, "rewrite changed the join result")
      assert(expected.nonEmpty, "test data must produce matches")
    }
  }

  test("strict-inequality bands rewrite too, with exclusive semantics kept") {
    withRule {
      val strict = a.join(b, abs(col("ta") - col("tb")) < 2)
      val plan = strict.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"strict band not rewritten:\n${plan.take(1500)}")
      val got = strict.select("ida", "idb").as[(Long, Long)].collect().sorted
      // |{-7,-2,0,9,23} x {-9,1,11,100}| < 2: only (-2,-9)? no: |-2-(-9)|=7;
      // (3:0,1)->|0-1|=1 ok; (2:-2,1)->3 no; (4:9,11)->2 excluded by strictness
      assert(got.toSeq == Seq((3L, 20L)), s"got ${got.toSeq}")
    }
  }

  test("joins that already have a cross-side equality are left alone") {
    withRule {
      val j = a.join(b, col("ida") === col("idb") &&
        abs(col("ta") - col("tb")) <= 5)
      val plan = j.queryExecution.optimizedPlan.toString
      assert(!plan.contains("_graft_band_bucket"),
        s"rule fired on an equi-join:\n${plan.take(1500)}")
    }
  }
}

class FuzzyJoinRewriteSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def withRule[T](body: => T): T = {
    graft.plans.JoinRewrites.setup(spark)
    body
  }

  private def withoutRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.FuzzyJoinRewrite)
    try body finally spark.experimental.extraOptimizations = saved
  }

  // substitutions, inserts, deletes, a shared stem, and a DUPLICATE row:
  // the rewrite's canonical witness must keep exactly one candidate per
  // joined ROW INSTANCE, so duplicate inputs still produce duplicate
  // output rows like the nested loop does
  private val a = Seq((1L, "kitten"), (2L, "sittin"), (3L, "kitte"),
    (4L, "abc"), (5L, "kittenxy"), (6L, "kitten")).toDF("ida", "sa")
  private val b = Seq((10L, "kitten"), (20L, "sitten"), (30L, "kittens"),
    (40L, "abd"), (50L, "zzz")).toDF("idb", "sb")

  test("key-less levenshtein join re-plans from nested-loop to hash join") {
    val expected = withoutRule {
      val naive = a.join(b, levenshtein(col("sa"), col("sb")) <= 1)
      assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"),
        "precondition: without the rule this is a nested-loop join")
      naive.select("ida", "idb").as[(Long, Long)].collect().sorted
    }
    withRule {
      val rewritten = a.join(b, levenshtein(col("sa"), col("sb")) <= 1)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"fuzzy join not rewritten:\n${plan.take(2000)}")
      val got = rewritten.select("ida", "idb").as[(Long, Long)].collect().sorted
      assert(got.toSeq == expected.toSeq,
        s"rewrite changed the join result: got ${got.toSeq}, want ${expected.toSeq}")
      assert(expected.length >= 8, s"test data too weak: ${expected.toSeq}")
    }
  }

  test("d=2 window admits insert+substitution pairs the d=1 window cannot") {
    val expected = withoutRule {
      a.join(b, levenshtein(col("sa"), col("sb")) <= 2)
        .select("ida", "idb").as[(Long, Long)].collect().sorted
    }
    withRule {
      val rewritten = a.join(b, levenshtein(col("sa"), col("sb")) <= 2)
      assert(!rewritten.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val got = rewritten.select("ida", "idb").as[(Long, Long)].collect().sorted
      assert(got.toSeq == expected.toSeq)
      assert(expected.length > 8, "d=2 must admit strictly more pairs")
    }
  }

  test("strict < folds to <= d-1 with exclusive semantics kept") {
    withRule {
      val strict = a.join(b, levenshtein(col("sa"), col("sb")) < 2)
      assert(!strict.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val got = strict.select("ida", "idb").as[(Long, Long)].collect().sorted
      val expected = withoutRule {
        a.join(b, levenshtein(col("sa"), col("sb")) <= 1)
          .select("ida", "idb").as[(Long, Long)].collect().sorted
      }
      assert(got.toSeq == expected.toSeq)
    }
  }

  test("empty strings survive the rewrite (rlen = 0 candidate generation)") {
    // "" vs any string of length <= d satisfies levenshtein <= d; the
    // nested loop finds these, so the rewrite must too (the r7 bound
    // rlen >= 1 silently dropped every empty-right pair)
    val ea = Seq((1L, ""), (2L, "a"), (3L, "ab"), (4L, "abc")).toDF("ida", "sa")
    val eb = Seq((10L, ""), (20L, "b"), (30L, "xy"), (40L, "abcd")).toDF("idb", "sb")
    for (d <- Seq(1, 2)) {
      val expected = withoutRule {
        ea.join(eb, levenshtein(col("sa"), col("sb")) <= d)
          .select("ida", "idb").as[(Long, Long)].collect().sorted
      }
      withRule {
        val rewritten = ea.join(eb, levenshtein(col("sa"), col("sb")) <= d)
        assert(!rewritten.queryExecution.executedPlan.toString.contains("NestedLoop"))
        val got = rewritten.select("ida", "idb").as[(Long, Long)].collect().sorted
        assert(got.toSeq == expected.toSeq,
          s"d=$d: got ${got.toSeq}, want ${expected.toSeq}")
        assert(expected.contains((1L, 10L)) && expected.contains((2L, 10L)),
          "corpus must exercise empty-empty and empty-short pairs")
      }
    }
  }

  test("equi-joins and over-threshold bounds are left alone") {
    withRule {
      val equi = a.join(b, col("ida") === col("idb") &&
        levenshtein(col("sa"), col("sb")) <= 1)
      assert(!equi.queryExecution.optimizedPlan.toString.contains("_graft_fj_"),
        "rule fired on an equi-join")
      val wide = a.join(b, levenshtein(col("sa"), col("sb")) <= 9)
      assert(!wide.queryExecution.optimizedPlan.toString.contains("_graft_fj_"),
        "rule fired past the d <= 3 fan-out cap")
    }
  }
}

class HammingJoinRewriteSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def withRule[T](body: => T): T = {
    graft.plans.JoinRewrites.setup(spark)
    body
  }

  private def withoutRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.HammingJoinRewrite)
    try body finally spark.experimental.extraOptimizations = saved
  }

  // fingerprints at controlled hamming distances, including pairs that
  // agree on SEVERAL bands (the multi-candidate case the witness must
  // collapse to one) and a DUPLICATE row (duplicate inputs must yield
  // duplicate output rows like the nested loop)
  private val a = Seq((1L, 0x0F0FL), (2L, 0x0F0EL), (3L, 0xFFFFL),
    (4L, 0L), (5L, 0x0F0FL)).toDF("ida", "ha")
  private val b = Seq((10L, 0x0F0FL), (20L, 0x0F0DL), (30L, 0xFFFDL),
    (40L, 2L), (50L, 0x00FFL)).toDF("idb", "hb")

  private def ham = bit_count(col("ha").bitwiseXOR(col("hb")))

  test("key-less hamming join re-plans from nested-loop to hash join, bit-equal") {
    for (r <- Seq(1, 2, 3)) {
      val expected = withoutRule {
        val naive = a.join(b, ham <= r)
        assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"),
          "precondition: without the rule this is a nested-loop join")
        naive.select("ida", "idb").as[(Long, Long)].collect().sorted
      }
      withRule {
        val rewritten = a.join(b, ham <= r)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          s"r=$r not rewritten:\n${plan.take(2000)}")
        val got = rewritten.select("ida", "idb").as[(Long, Long)].collect().sorted
        assert(got.toSeq == expected.toSeq,
          s"r=$r: got ${got.toSeq}, want ${expected.toSeq}")
      }
    }
  }

  test("brute-force differential over random 16-bit fingerprints, int and long") {
    val rnd = new scala.util.Random(42)
    val xs = (1 to 120).map(i => (i.toLong, rnd.nextInt(1 << 16).toLong))
    val ys = (1 to 120).map(i => (i.toLong, rnd.nextInt(1 << 16).toLong))
    val (da, db) = (xs.toDF("ida", "ha"), ys.toDF("idb", "hb"))
    for (r <- Seq(2, 5)) {
      val expected = (for {
        (i, x) <- xs; (jj, y) <- ys
        if java.lang.Long.bitCount(x ^ y) <= r
      } yield (i, jj)).sorted
      withRule {
        val got = da.join(db, ham <= r)
          .select("ida", "idb").as[(Long, Long)].collect().sorted
        assert(got.toSeq == expected, s"r=$r mismatch (long)")
        assert(expected.nonEmpty, "differential corpus too weak")
      }
      // int fingerprints take the 32-bit band split
      val (ia, ib) = (xs.map { case (i, x) => (i, x.toInt) }.toDF("ida", "ha"),
        ys.map { case (i, y) => (i, y.toInt) }.toDF("idb", "hb"))
      withRule {
        val got = ia.join(ib, ham <= r)
          .select("ida", "idb").as[(Long, Long)].collect().sorted
        assert(got.toSeq == expected, s"r=$r mismatch (int)")
      }
    }
  }

  test("strict < folds to <= r-1 with exclusive semantics kept") {
    withRule {
      val strict = a.join(b, ham < 2)
      assert(!strict.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val got = strict.select("ida", "idb").as[(Long, Long)].collect().sorted
      val expected = withoutRule {
        a.join(b, ham <= 1)
          .select("ida", "idb").as[(Long, Long)].collect().sorted
      }
      assert(got.toSeq == expected.toSeq)
    }
  }

  test("equi-joins and over-cap bounds are left alone") {
    withRule {
      val equi = a.join(b, col("ida") === col("idb") && ham <= 1)
      assert(!equi.queryExecution.optimizedPlan.toString.contains("_graft_hj_"),
        "rule fired on an equi-join")
      // <=> is ALSO a hash-join key (ExtractEquiJoinKeys): rewriting
      // would trade the selective hash join for the fanned-out band join
      val nullSafe = a.join(b, col("ida") <=> col("idb") && ham <= 1)
      assert(!nullSafe.queryExecution.optimizedPlan.toString.contains("_graft_hj_"),
        "rule fired on a null-safe equi-join")
      val wide = a.join(b, ham <= 40)
      assert(!wide.queryExecution.optimizedPlan.toString.contains("_graft_hj_"),
        "rule fired past the r <= 15 cap")
    }
  }

  test("hammingPairs and the optimizer rule agree pair-for-pair on random data") {
    // the hand-callable operator and the rewrite are documented twins
    // sharing HammingBands.ranges — assert they cannot drift: same
    // random corpus, same r, identical (id1, id2, hamming) sets
    // twin families (odd id = even twin with 1-3 bits flipped) on top of
    // random 32-bit noise, so every r has true pairs to disagree on
    val rnd = new scala.util.Random(23)
    val bases = (0 until 70).map(_ => rnd.nextLong() & 0xFFFFFFFFL)
    val rows = (0 until 140).map { i =>
      val b = bases(i / 2)
      val fp = if (i % 2 == 0) b else b ^ (1L << (i % 31)) ^ (if (i % 3 == 0) 1L << ((i + 7) % 31) else 0L)
      (i.toLong, fp)
    }
    val df = rows.toDF("id", "fp")
    for (r <- Seq(1, 2, 3)) {
      val viaOp = graft.operators.LshBlocking.hammingPairs(df, "id", "fp", r)
        .as[(Long, Long, Int)].collect().sorted.toSeq
      val viaRule = withRule {
        val l = df.select($"id".as("id1"), $"fp".as("f1"))
        val rr = df.select($"id".as("id2"), $"fp".as("f2"))
        l.join(rr, bit_count($"f1".bitwiseXOR($"f2")) <= r)
          .where($"id1" < $"id2")
          .select($"id1", $"id2",
            bit_count($"f1".bitwiseXOR($"f2")).cast("int").as("h"))
          .as[(Long, Long, Int)].collect().sorted.toSeq
      }
      assert(viaOp == viaRule, s"twins diverged at r=$r")
      assert(viaOp.nonEmpty, s"agreement corpus too weak at r=$r")
    }
  }

  test("all three rewrite rules coexist: two rewritable joins in ONE plan both fire") {
    // JoinRewrites.setup (and GraftExtensions) install Band+Fuzzy+Hamming
    // together; a plan containing a hamming self-join stacked on a
    // levenshtein join must see BOTH rewritten (rules transformUp
    // independently) and keep nested-loop-free results identical to the
    // unrewritten plan
    val rules = graft.plans.JoinRewrites.rules
    val strs = Seq((100L, "kitten", 0x0F0FL), (200L, "sitten", 0x0F0EL),
      (300L, "abc", 0xFFFFL), (400L, "abd", 0x0F0DL)).toDF("id", "s", "h")
    def composed = {
      val fuzzy = strs.select($"id".as("fid"), $"s".as("fs"), $"h".as("fh"))
        .join(strs.select($"id".as("gid"), $"s".as("gs")),
          org.apache.spark.sql.functions.levenshtein($"fs", $"gs") <= 1)
        .where($"fid" < $"gid")
      fuzzy.join(strs.select($"id".as("hid"), $"h".as("hh")),
          bit_count($"fh".bitwiseXOR($"hh")) <= 2)
        .select($"fid", $"gid", $"hid")
    }
    val expected = {
      val saved = spark.experimental.extraOptimizations
      try { spark.experimental.extraOptimizations = saved.filterNot(rules.contains)
        composed.as[(Long, Long, Long)].collect().sorted.toSeq
      } finally spark.experimental.extraOptimizations = saved
    }
    graft.plans.JoinRewrites.setup(spark)
    val df = composed
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("_graft_fj_"), "fuzzy rewrite did not fire in the composed plan")
    assert(plan.contains("_graft_hj_"), "hamming rewrite did not fire in the composed plan")
    val got = df.as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == expected, s"composed rewrites changed results: $got vs $expected")
    assert(expected.nonEmpty)
  }
}

class JoinRewriteSetupSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("rewrite gates on three threads of one session all fire and install each rule once") {
    // small fixtures with the columns the three gates read: sequential
    // customer names (many one-edit pairs), documents over a tiny
    // vocabulary (many near-dup SimHashes), minute-spaced events
    TempDirs.withTempDir("graft_rewrite_gates") { dir =>
      (1 to 300).map(k => (k.toLong, f"Customer#$k%09d")).toDF("c_custkey", "c_name")
        .write.parquet(s"$dir/customer.parquet")
      (0 until 200).map(i => (i.toLong, s"w${i % 7} w${i % 11} w${i % 13} the same tail"))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      (0 until 1400).map(i => (i.toLong, (i % 70).toLong, i * 60000000000L))
        .toDF("event_id", "user_id", "ts").write.parquet(s"$dir/events.parquet")
      val gates = SparkEntry.all.filter(q =>
        Set("q_hamming_rewrite", "q_band_rewrite", "q_fuzzy_rewrite")(q.name))
      assert(gates.size == 3)
      def rows(q: graft.relational.Q) =
        q.run(spark, dir).collect().map(_.toString).sorted.toSeq
      val solo = gates.map(q => q.name -> rows(q)).toMap
      solo.foreach { case (name, r) => assert(r.nonEmpty, s"$name: no rows on the fixtures") }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val runs = for (round <- 0 until 10; q <- gates) yield scala.concurrent.Future {
          try { if (rows(q) == solo(q.name)) None else Some(s"round $round ${q.name}: rows differ") }
          catch { case e: Throwable => Some(s"round $round ${q.name}: ${e.getMessage}") }
        }
        val failures = scala.concurrent.Await.result(scala.concurrent.Future.sequence(runs),
          scala.concurrent.duration.Duration(5, "min")).flatten
        assert(failures.isEmpty, failures.mkString("; "))
      } finally pool.shutdown()
      val installed = spark.experimental.extraOptimizations
      for (rule <- Seq(graft.plans.BandJoinRewrite, graft.plans.FuzzyJoinRewrite,
                       graft.plans.HammingJoinRewrite))
        assert(installed.count(_ eq rule) == 1, s"$rule installed ${installed.count(_ eq rule)} times")
    }
  }
}

class TensorSourceSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  test("full generator -> partitioned sink -> pruned read roundtrip") {
    TempDirs.withTempDir("graft_ts") { dir =>
      val ds = graft.sources.TensorSource.full(spark, 20, Seq(2, 3), 1.5)
      assert(ds.head().data.forall(_ == 1.5) && ds.head().shape == Seq(2, 3))
      graft.sources.TensorSource.write(ds, dir, buckets = 4)
      val back = graft.sources.TensorSource.read(spark, dir)
      assert(back.count() == 20)
      val one = graft.sources.TensorSource.readOne(spark, dir, 7L, buckets = 4)
      assert(one.count() == 1 && one.head().getAs[Long]("id") == 7L)
    }
  }
}

class MeasureKernelSpec extends AnyFunSuite {
  import graft.kernels.{LabelKernel, MeasureKernel}

  test("global center of mass matches the docstring example") {
    // center_of_mass(np.ones((2,2))) == (0.5, 0.5) (measure.py docstring)
    val out = MeasureKernel.centerOfMass(Array(1.0, 1.0, 1.0, 1.0), Array(2, 2))
    assert(out.sameElements(Array(0.5, 0.5)))
  }

  test("labeled variant with index order, missing labels, and validation") {
    val data = Array(1.0, 2.0, 3.0, 4.0)
    val lab = LabelKernel.label(Array(1.0, 1.0, 0.0, 2.0), Array(4), connectivity = 1)
    val out = MeasureKernel.labeledCenterOfMass(data, Array(4), lab.labels, Array(2L, 1L, 9L))
    assert(out(0).sameElements(Array(3.0)))               // label 2 at position 3
    assert(math.abs(out(1)(0) - (1.0 * 0 + 2.0 * 1) / 3.0) < 1e-12) // label 1 at 0,1
    assert(out(2)(0).isNaN)                               // label 9 absent -> 0/0
    assertThrows[IllegalArgumentException](
      MeasureKernel.labeledCenterOfMass(data, Array(4), lab.labels, Array(1L, 1L)))
    assertThrows[IllegalArgumentException](
      MeasureKernel.labeledCenterOfMass(data, Array(4), Array(1L), Array(1L)))
  }

  test("negative masses are allowed like the reference") {
    val out = MeasureKernel.centerOfMass(Array(-1.0, 3.0), Array(2))
    assert(out.sameElements(Array(1.5))) // (-1*0 + 3*1) / 2
  }
}

class SkewedAggSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import graft.operators.SkewedAgg

  test("salted two-phase agg equals the direct aggregation") {
    val rng = new scala.util.Random(6)
    // heavy skew: 90% of rows on key 0
    val rows = Seq.fill(2000)((if (rng.nextInt(10) == 0) rng.nextInt(5) + 1 else 0).toLong)
      .map(k => (k, rng.nextInt(100).toDouble))
    val df = rows.toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("sum"), count(lit(1)).as("cnt"))
      .as[(Long, Double, Long)].collect().toSet
    val salted = SkewedAgg.sumCount(df, "k", "v", salts = 8)
      .as[(Long, Double, Long)].collect().toSet
    assert(direct.map(t => (t._1, t._3)) == salted.map(t => (t._1, t._3)))
    // sums: FP order differs across salts; compare within tolerance
    val ds = direct.map(t => t._1 -> t._2).toMap
    salted.foreach { case (k, s, _) => assert(math.abs(s - ds(k)) < 1e-6) }
  }
}

class BucketedJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("co-bucketed tables join without a shuffle exchange") {
    val a = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "va")
    val b = (0L until 500L).map(i => (i % 100, i * 2)).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bj_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bj_b")
    val joined = spark.table("bj_a").join(spark.table("bj_b"), "k")
    // disable broadcast so the co-located bucketing is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 5000) // 10 va-rows x 5 vb-rows per key x 100 keys
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

class ExprGuardsSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private def rootMessage(t: Throwable): String = {
    var c: Throwable = t
    while (c.getCause != null) c = c.getCause
    Option(c.getMessage).getOrElse("")
  }

  test("null array element fails fast with a clear error (nullable schema)") {
    // Seq[Option[Double]] -> ArrayType(DoubleType, containsNull = true)
    val df = Seq((1L, Seq(Option(1.0), None, Option(3.0))))
      .toDF("id", "ys")
    val ex = intercept[Exception] {
      df.select(graft.exprs.Interp1dExpr.interp1dArr(
        typedlit(Array(0.0, 1.0, 2.0)), $"ys", typedlit(Array(0.5)),
        lit(false), lit(0.0))).collect()
    }
    assert(rootMessage(ex).contains("null element"), rootMessage(ex))
  }

  test("nullable schema without actual nulls passes the guard unchanged") {
    val df = Seq((1L, Seq(Option(5.0), Option(7.0))))
      .toDF("id", "ys")
    val out = df.select(graft.exprs.Interp1dExpr.interp1dArr(
      typedlit(Array(0.0, 1.0)), $"ys", typedlit(Array(0.5)),
      lit(false), lit(0.0)).as("y")).as[Seq[Double]].head()
    assert(out == Seq(6.0))
  }

  test("morph rejects null mask elements instead of reading them as false") {
    val df = Seq((1L, Seq(Option(true), None, Option(true))))
      .toDF("id", "mask")
    val ex = intercept[Exception] {
      df.select(graft.api.Graft.binaryDilation($"mask", typedlit(Array(3)))).collect()
    }
    assert(rootMessage(ex).contains("null element"), rootMessage(ex))
  }

  test("label, edt and hull reject null elements and give null for a null array") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("data", ArrayType(DoubleType, containsNull = true)),
      StructField("mask", ArrayType(BooleanType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, Seq(1.0, null, 0.0, 1.0), Seq(true, null, false, true)), Row(1L, null, null)), 2), schema)
    val shape = typedlit(Array(2, 2))
    val calls = Seq(
      "label" -> graft.api.Graft.label($"data", shape),
      "edt" -> graft.api.Graft.distanceTransformEdt($"mask", shape, Seq(1.0, 1.0)),
      "hull" -> graft.api.Graft.convexHullImage($"mask", shape))
    calls.foreach { case (name, c) =>
      val ex = intercept[Exception](df.where($"id" === 0L).select(c).collect())
      assert(rootMessage(ex).contains("null element"), s"$name: ${rootMessage(ex)}")
      assert(df.where($"id" === 1L).select(c).collect()(0).isNullAt(0), s"$name of a null array")
    }
  }

  test("com_partial rejects rows*cols larger than the array") {
    val df = Seq((0L, Seq(1.0, 2.0, 3.0))).toDF("id", "data")
    val ex = intercept[Exception] {
      df.select(graft.exprs.ComPartialSums.comPartial(
        $"data", lit(2), lit(3), $"id")).collect()
    }
    assert(rootMessage(ex).contains("exceeds array length"), rootMessage(ex))
  }
}

class SketchFunctionsSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("KMV estimate is within 25% of the true distinct count when filled") {
    val df = (1 to 20000).map(i => (i % 3, i % 5000)).toDF("g", "key")
    val out = graft.functions.SketchFunctions
      .kmvEstimate(df, col("key"), 256, Seq(col("g")))
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      val est = r.getAs[Double]("est_distinct")
      // each group sees ~1667 distinct keys of the 5000 (i%3 x i%5000 cycle)
      val truth = (1 to 20000).filter(_ % 3 == r.getAs[Int]("g")).map(_ % 5000).distinct.size
      assert(math.abs(est - truth) / truth < 0.25, s"est $est vs truth $truth")
    }
  }

  test("KMV falls back to the exact count when the sketch is not filled") {
    val df = Seq.tabulate(10)(i => (0, i)).toDF("g", "key")
    val r = graft.functions.SketchFunctions
      .kmvEstimate(df, col("key"), 64, Seq(col("g"))).collect().head
    assert(r.getAs[Long]("k_actual") == 10L)
    assert(r.getAs[Double]("est_distinct") == 10.0)
  }

  test("hash sampling is deterministic and near the target rate") {
    val df = (1 to 10000).map(i => Tuple1(i.toLong)).toDF("k")
    val a = graft.functions.SketchFunctions.bernoulliSample(df, col("k"), 10).count()
    val b = graft.functions.SketchFunctions.bernoulliSample(df, col("k"), 10).count()
    assert(a == b)
    assert(a > 700 && a < 1300, s"10% of 10000 sampled $a")
  }
}

class RangeJoinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("banded range join matches brute force and never duplicates a pair") {
    val rows = for (k <- 0 to 2; i <- 0 until 40)
      yield (k.toLong, (k * 1000 + i).toLong, (i * 37L % 100) * 3L)
    val df = rows.toDF("k", "id", "t")
    val out = graft.operators.RangeJoin(df, df, Seq("k"), "t", 10L)
      .where($"l_id" < $"r_id")
      .select($"k", $"l_id", $"r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = for {
      (k1, i1, t1) <- rows; (k2, i2, t2) <- rows
      if k1 == k2 && i1 < i2 && math.abs(t1 - t2) <= 10
    } yield (k1, i1, i2)
    assert(out.length == out.distinct.length, "duplicate pairs from bucket explode")
    assert(out.toSet == brute.toSet)
  }

  test("range join rejects a non-positive window") {
    val df = Seq((1L, 1L, 1L)).toDF("k", "id", "t")
    intercept[IllegalArgumentException] {
      graft.operators.RangeJoin(df, df, Seq("k"), "t", 0L)
    }
  }
}

class CountMinSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("count-min estimates are one-sided and near-exact at low load") {
    val keys = (1 to 2000).map(i => s"k${i % 50}")  // 50 distinct, 40 each
    val df = keys.map(Tuple1(_)).toDF("key")
    val sketch = graft.functions.SketchFunctions.cmsBuild(df, $"key", 4, 256)
    val est = graft.functions.SketchFunctions
      .cmsEstimate(sketch, Seq("k0", "k7", "nope"), 4, 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("k0") >= 40 && est("k0") <= 120, s"k0 -> ${est("k0")}")
    assert(est("k7") >= 40 && est("k7") <= 120)
    assert(est("nope") <= 80)  // absent key reads collision noise only
  }

  test("sketch size is depth*width regardless of input") {
    val df = (1 to 5000).map(i => Tuple1(s"t$i")).toDF("key")
    val n = graft.functions.SketchFunctions.cmsBuild(df, $"key", 2, 64).count()
    assert(n <= 2 * 64)
  }
}

class ShardedRadonSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("angle-sharded radon is bit-identical to the single-call sinogram") {
    implicit val s = spark
    val size = 32
    val thetas = (0 until 24).map(_ * 7.5)
    val imgs = Seq.tabulate(3) { r =>
      (r.toLong, Array.tabulate(size * size) { i =>
        val (y, x) = (i / size, i % size)
        val (dy, dx) = (y - size / 2 + 0.5, x - size / 2 + 0.5)
        if (dy * dy + dx * dx < (size / 3) * (size / 3)) (i % 7 + r).toDouble else 0.0
      })
    }
    val df = imgs.toDF("id", "data")
    val direct = df.select($"id", graft.exprs.Kernels.radon(
        $"data", lit(size), typedlit(thetas.toArray)).as("sino"))
      .as[(Long, Array[Double])].collect().toMap
    val sharded = graft.operators.ShardedRadon(df, $"id", $"data", size, thetas, 5)
      .as[(Long, Array[Double])].collect().toMap
    assert(direct.keySet == sharded.keySet)
    direct.foreach { case (id, full) =>
      assert(java.util.Arrays.equals(full, sharded(id)), s"sinogram mismatch for id $id")
    }

    // the size router: both routes produce the identical (id, sino) frame —
    // a small rowsHint forces the sharded path, a large one the per-row
    // kernel (r10: one call shape, dispatch on batch size like the
    // reference dispatches on input shape)
    val viaSharded = graft.operators.ShardedRadon.auto(df, $"id", $"data", size, thetas, 5,
        rowsHint = Some(1L))
      .as[(Long, Array[Double])].collect().toMap
    val viaPlain = graft.operators.ShardedRadon.auto(df, $"id", $"data", size, thetas, 5,
        rowsHint = Some(100000L))
      .as[(Long, Array[Double])].collect().toMap
    direct.foreach { case (id, full) =>
      assert(java.util.Arrays.equals(full, viaSharded(id)), s"auto(sharded) mismatch id $id")
      assert(java.util.Arrays.equals(full, viaPlain(id)), s"auto(plain) mismatch id $id")
    }
  }
}

class GraftFacadeComSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import org.apache.spark.sql.functions._

  test("facade CoM agrees on cached and uncached inputs, across repeat calls") {
    val gen = udf { (id: Long) =>
      Array.tabulate(64)(i => ((id * 131 + i * 17) % 23).toDouble)
    }
    val df = spark.range(16).select(col("id"), gen(col("id")).as("data"))
    val uncached = graft.api.Graft.centerOfMass(df, "id", "data", 8, 8)
    df.persist(); df.count()
    try {
      val cached = graft.api.Graft.centerOfMass(df, "id", "data", 8, 8)
      val cached2 = graft.api.Graft.centerOfMass(df, "id", "data", 8, 8)
      assert(uncached.length == 3 && cached.length == 3 && cached2.length == 3)
      // per-slice partials are bit-identical; the final merge order is
      // scheduler-dependent, so compare at 1e-12 (r3 lesson 6)
      (0 until 3).foreach { k =>
        assert(math.abs(uncached(k) - cached(k)) < 1e-12, s"component $k")
        assert(math.abs(uncached(k) - cached2(k)) < 1e-12, s"repeat call, component $k")
      }
    } finally df.unpersist()
  }

  test("facade CoM on a persisted reread of an overwritten path sees the new data") {
    // a reread of the same path has the same plan (and semantic hash) as
    // the first read, so any result keyed by the plan would be stale here
    import spark.implicits._
    TempDirs.withTempDir("graft_com_reread") { dir =>
      def write(shift: Int): Unit =
        (0L until 12L).map(id => (id, Array.tabulate(36)(i => ((id * 7 + i * shift) % 11).toDouble)))
          .toDF("id", "data").write.mode("overwrite").parquet(dir)
      def com(df: org.apache.spark.sql.DataFrame) =
        graft.api.Graft.centerOfMass(df, "id", "data", 6, 6)
      write(3)
      val first = spark.read.parquet(dir)
      first.persist(); first.count()
      val before = com(first)
      first.unpersist(blocking = true)

      write(5)
      val reread = spark.read.parquet(dir)
      reread.persist(); reread.count()
      val cached = com(reread)
      reread.unpersist(blocking = true)
      val uncached = com(reread)
      assert((0 until 3).exists(k => math.abs(before(k) - uncached(k)) > 1e-6),
        "the two volumes must have different centers of mass")
      (0 until 3).foreach { k =>
        assert(math.abs(cached(k) - uncached(k)) < 1e-12,
          s"component $k: cached ${cached.toSeq} vs uncached ${uncached.toSeq}")
      }
    }
  }

  test("facade CoM on a persisted frame persists nothing of its own") {
    val gen = udf { (id: Long) => Array.tabulate(16)(i => ((id + i) % 5).toDouble) }
    val df = spark.range(8).select(col("id"), gen(col("id")).as("data"))
    df.persist(); df.count()
    try {
      val before = spark.sparkContext.getPersistentRDDs.size
      graft.api.Graft.centerOfMass(df, "id", "data", 4, 4)
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after == before, s"$before -> $after persisted RDDs")
    } finally df.unpersist(blocking = true)
  }
}

class JpegDecodeSpec extends AnyFunSuite {
  test("JPEG round-trip through imageio: right meta, pixels near the source") {
    val px = Array.tabulate(64)(i => (i * 3 + 40) % 200)
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (i <- 0 until 64) img.getRaster.setSample(i % 8, i / 8, 0, px(i))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val (meta, decoded) = Multimodal.decodeImage(bos.toByteArray).get
    assert(meta.format == "jpeg" && meta.width == 8 && meta.height == 8 && meta.channels == 1)
    // lossy but bounded: one 8x8 DCT block of a high-frequency ramp with a
    // wrap discontinuity stays within ~40 levels at default quality
    px.zip(decoded).foreach { case (a, b) => assert(math.abs(a - b) <= 40, s"$a vs $b") }
  }
}

class GraftDedupFacadeSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("dedupClusters groups exact dups and near-dups, keeps min id as label") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (4L, base),                         // exact dups
      (2L, base + " ok"),                             // near-dup of 1 (shares shingles)
      (7L, "completely different content with nothing shared at all here now")
    ).toDF("doc_id", "text")
    val cand = graft.api.Graft.nearDupCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L))) // near-dup found among reps
    assert(!cand.exists { case (a, b) => a == 4L || b == 4L }) // dup collapsed away
    val clusters = graft.api.Graft.dedupClusters(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(clusters(1L) == (1L, 3L) && clusters(4L) == (1L, 3L) && clusters(2L) == (1L, 3L))
    assert(clusters(7L) == (7L, 1L))
  }
}

class GraftPipelineFacadeSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("dupNgramStats finds cross-doc 5-grams and honors minDocs") {
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, shared + " one two three"),
      (2L, "zero " + shared + " four"),
      (3L, "totally different words in this document here")
    ).toDF("doc_id", "text")
    val inv = graft.api.Graft.dupNgramStats(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    // exactly the shared 5-gram crosses documents
    assert(inv.length == 1 && inv.head._2 == 2L && inv.head._3 == 2L)
    assert(graft.api.Graft.dupNgramStats(docs, "doc_id", "text", minDocs = 3).count() == 0)
  }

  test("docDupFraction is 1.0 for a fully-covered doc, 0.0 for a unique one") {
    val span = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, span),                                     // every 5-gram (1) duplicated
      (2L, "zero " + span),                           // 2 grams, 1 duplicated
      (3L, "totally different words in this document here")
    ).toDF("doc_id", "text")
    val frac = graft.api.Graft.docDupFraction(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(frac(1L) == (1L, 1.0))
    assert(frac(2L) == (2L, 0.5))
    assert(frac(3L)._2 == 0.0)
  }

  test("decontaminate flags only train docs overlapping the eval corpus") {
    val leak = "alpha beta gamma delta epsilon"
    val eval = Seq((100L, "prefix " + leak + " suffix")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro " + leak + " outro words"),
      (2L, "clean document with no overlap at all in it")
    ).toDF("doc_id", "text")
    val hits = graft.api.Graft.decontaminate(train, eval, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(hits.keySet == Set(1L) && hits(1L) == 1L)
  }

  test("repetitionMetrics computes duplicate-word and top-bigram fractions") {
    val docs = Seq((1L, "a a a a a b")).toDF("doc_id", "text")
    val m = graft.api.Graft.repetitionMetrics(docs, "doc_id", "text")
      .as[(Long, Int, Double, Double)].collect().head
    assert(m._2 == 6)                                  // tokens
    assert(math.abs(m._3 - (1.0 - 2.0 / 6.0)) < 1e-12) // 2 distinct of 6
    assert(math.abs(m._4 - 4.0 / 5.0) < 1e-12)         // "a a" 4 of 5 bigrams
  }

  test("dsirWeights rank target-like docs above corpus-average docs") {
    // target model fit on the "en"-ish docs; a held-out doc written in the
    // target vocabulary must outscore one written in the other vocabulary
    val docs = Seq(
      (1L, "cat dog bird cat dog fish", "en"),
      (2L, "dog cat cat bird dog bird", "en"),
      (3L, "rojo azul verde rojo azul", "es"),
      (4L, "verde rojo rojo azul azul", "es"),
      (5L, "cat bird dog fish cat", "??"),   // target-like, unlabeled
      (6L, "azul verde rojo rojo", "??")     // corpus-other, unlabeled
    ).toDF("doc_id", "text", "lang")
    val target = docs.where($"lang" === "en").select("doc_id")
    val w = graft.api.Graft.dsirWeights(docs, target, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(w(5L) > 0.0 && w(6L) < 0.0 && w(5L) > w(6L))
    assert(w(1L) > w(3L))
  }

  test("domainMixWeights follows the alpha power law and sums to 1") {
    // src0: 4 docs x 25 tokens = 100; src1: 4 docs x 100 tokens = 400
    val docs = (Seq.fill(4)("w " * 24 + "w").map(("src0", _)) ++
      Seq.fill(4)("w " * 99 + "w").map(("src1", _))).toDF("source", "text")
    val w = graft.api.Graft.domainMixWeights(docs, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(math.abs(w("src0") - 1.0 / 3.0) < 1e-12)    // sqrt(100)/(10+20)
    assert(math.abs(w("src1") - 2.0 / 3.0) < 1e-12)
    val w2 = graft.api.Graft.domainMixWeights(docs, "source", "text", alpha = 1.0)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(math.abs(w2("src0") - 0.2) < 1e-12 && math.abs(w2("src1") - 0.8) < 1e-12)
  }

  test("cdcDedup removes a later exact-dup doc chunk-by-chunk") {
    val text = Seq.fill(40)(Seq("red", "green", "blue", "cyan")).flatten.mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, "one of a kind string here"))
      .toDF("doc_id", "text")
    val out = graft.api.Graft.cdcDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 > 0 && out(1L)._4.nonEmpty)       // doc1 keeps chunks
    assert(out(2L)._3 == 0 && out(2L)._4.isEmpty)       // doc2 fully deduped
    assert(out(3L)._3 == out(3L)._2)                     // unique doc untouched
    // caveat of periodic text: doc1 may itself repeat chunks internally, so
    // only assert reassembly for the unique doc
    assert(out(3L)._4 == "one of a kind string here")
  }

  test("sparseCosinePairs: identical docs reach cosine 1, disjoint docs absent") {
    val a = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, a), (2L, a), (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val out = graft.api.Graft.sparseCosinePairs(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 1 && out.head._1 == 1L && out.head._2 == 2L && out.head._4 == 1.0)
  }

  test("ewmaFixedPoint folds (s + x) >> 1 in time order") {
    // x = 9e6, 5e6, 3e6 -> ((9e6+5e6)>>1 + 3e6)>>1 = 5e6
    val ev = Seq((7L, 1L, 9.0), (7L, 2L, 5.0), (7L, 3L, 3.0))
      .toDF("user_id", "ts", "value")
    val r = graft.api.Graft.ewmaFixedPoint(ev, "user_id", "ts", "value")
      .as[(Long, Long, Long)].collect().head
    assert(r == ((7L, 3L, 5000000L)))
  }
}

class GraftCleanCorpusSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("cleanCorpus drops dups, low-quality, and contaminated docs, redacts the rest") {
    val good = ("w " * 24).trim + " contact me at bob@example.com or 555 1234"
    val leak = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, good),                                      // survives (redacted)
      (5L, good),                                      // exact dup of 1 -> dropped
      (2L, "too short"),                               // quality gate -> dropped
      (3L, ("x " * 10).trim + " " + leak + " " + ("y " * 10).trim) // contaminated
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "pre " + leak + " post")).toDF("doc_id", "text")
    val out = graft.api.Graft.cleanCorpus(docs, "doc_id", "text", Some(eval))
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L))
    assert(out(1L).contains("<email>") && out(1L).contains("<num>"))
    assert(!out(1L).contains("bob@example.com"))
    // without an eval set, the contaminated doc survives
    val noEval = graft.api.Graft.cleanCorpus(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(noEval.keySet == Set(1L, 3L))
  }

  test("cleanCorpus nearDedup drops near-duplicate docs, not just exact ones") {
    val base = ("the quick brown fox jumps over the lazy dog again and again today " * 2).trim
    val docs = Seq(
      (1L, base),
      (4L, base),                    // exact dup -> dropped either way
      (2L, base + " ok"),            // near-dup of 1 -> dropped only with nearDedup
      (7L, ("totally different content with nothing shared at all here now " * 2).trim)
    ).toDF("doc_id", "text")
    val exact = graft.api.Graft.cleanCorpus(docs, "doc_id", "text")
      .as[(Long, String)].collect().map(_._1).toSet
    assert(exact == Set(1L, 2L, 7L))
    val near = graft.api.Graft.cleanCorpus(docs, "doc_id", "text", nearDedup = true)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(near == Set(1L, 7L))
    // best-of-cluster policy: longest text wins the near-dup cluster
    val best = graft.api.Graft.cleanCorpus(docs, "doc_id", "text", nearDedup = true,
        repOrderBy = Seq(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).desc,
          org.apache.spark.sql.functions.col("doc_id").asc))
      .as[(Long, String)].collect().map(_._1).toSet
    assert(best == Set(2L, 7L)) // doc 2 is the longest member of its cluster
  }
}

class GramPropertySpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val rng = new scala.util.Random(11)
  private val vocab = Vector("a", "b", "c", "dd", "ee", "fff")
  private val docs = (0L until 40L).map { i =>
    val len = rng.nextInt(12) // 0..11 tokens, includes the short-doc edge
    (i, Seq.fill(math.max(len, 1))(vocab(rng.nextInt(vocab.size))).mkString(" "))
  }.toDF("doc_id", "text")

  test("wordGrams: count is max(0, tokens-n+1), every gram has n tokens") {
    val n = 5
    val rows = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(size(col("toks")).as("nt"),
        graft.functions.TextFunctions.wordGrams(col("toks"), n).as("grams"))
      .as[(Int, Seq[String])].collect()
    rows.foreach { case (nt, grams) =>
      assert(grams.length == math.max(0, nt - n + 1))
      grams.foreach(g => assert(g.split(" ").length == n))
    }
  }

  test("decontaminate(docs, docs) flags exactly the docs with >= 1 gram") {
    val hits = graft.api.Graft.decontaminate(docs, docs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    val expected = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("nt"))
      .as[(Long, Int)].collect().filter(_._2 >= 5).map(_._1).toSet
    assert(hits.keySet == expected)
  }

  test("docDupFraction stays in [0,1]; dupNgramStats n_total >= n_docs >= 2") {
    graft.api.Graft.docDupFraction(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .foreach { case (_, ng, f) => assert(ng > 0 && f >= 0.0 && f <= 1.0) }
    graft.api.Graft.dupNgramStats(docs, "doc_id", "text", n = 2)
      .as[(String, Long, Long)].collect()
      .foreach { case (_, nd, nt) => assert(nd >= 2 && nt >= nd) }
  }

  test("domainMixWeights sums to 1 for any alpha") {
    val src = docs.withColumn("source", (col("doc_id") % 3).cast("string"))
    for (alpha <- Seq(0.0, 0.3, 0.5, 1.0)) {
      val w = graft.api.Graft.domainMixWeights(src, "source", "text", alpha)
        .as[(String, Long, Long, Double)].collect().map(_._4)
      assert(math.abs(w.sum - 1.0) < 1e-9, s"alpha=$alpha sum=${w.sum}")
    }
  }
}

class TsNormSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.types._

  // 2021-01-01T00:00:01 UTC in the three encodings the driver's testdata
  // has shipped: ns-epoch long (TIMESTAMP(NANOS) under nanosAsLong),
  // TIMESTAMP, and TIMESTAMP_NTZ (timestamp[us], the current era).
  private val ns = 1609459201000000000L

  test("normTs passes an ns-long ts through untouched") {
    val df = Seq((1L, ns)).toDF("user_id", "ts")
    val out = graft.relational.T.normTs(df)
    assert(out.schema("ts").dataType == LongType)
    assert(out.select("ts").as[Long].head() == ns)
  }

  test("normTs converts TIMESTAMP and TIMESTAMP_NTZ to the same ns epoch") {
    val tsDf = Seq((1L, new java.sql.Timestamp(ns / 1000000L)))
      .toDF("user_id", "ts")
    val ntzDf = tsDf.select(col("user_id"),
      col("ts").cast(TimestampNTZType).as("ts"))
    for (df <- Seq(tsDf, ntzDf)) {
      val out = graft.relational.T.normTs(df)
      assert(out.schema("ts").dataType == LongType, df.schema("ts").dataType)
      assert(out.select("ts").as[Long].head() == ns,
        s"${df.schema("ts").dataType}")
    }
  }

  test("normTs is identity when no ts column exists") {
    val df = Seq((1L, "x")).toDF("id", "text")
    assert(graft.relational.T.normTs(df) eq df)
  }
}

/** Pins the cross-engine determinism contract of [[graft.functions
  * .TextFunctions.lnPoly]]: the Spark column must produce EXACTLY the
  * double the same sequence of IEEE +,-,*,/ produces anywhere (replicated
  * here in plain Scala — JVM doubles are IEEE-754, and the same ops in
  * DuckDB/Python were verified bit-identical offline), and must stay a
  * faithful ln (|err| < 2e-8 over the full magnitude range). libm never
  * participates — that is the whole point (r6/r7 q_dsir_weights). */
class LnPolySpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private def lnRef(n: Long): Double = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val m = n.toDouble / (1L << e).toDouble
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    val poly = 1.0 + z2 * (0.3333333333333333 + z2 * (0.2 + z2 *
      (0.14285714285714285 + z2 * (0.1111111111111111 + z2 *
      (0.09090909090909091 + z2 * 0.07692307692307693)))))
    e.toDouble * 0.6931471805599453 + 2.0 * z * poly
  }

  test("lnPoly is bit-identical to the plain-IEEE replica and ~1e-8 accurate") {
    val rnd = new scala.util.Random(7)
    val ns = Seq(1L, 2L, 3L, 5L, 7L, 100L, 12345L, 999983L,
      (1L << 40) - 7, (1L << 52) - 1) ++
      Seq.fill(500)(1L + (rnd.nextLong().abs % ((1L << 50) - 1)))
    val got = ns.toDF("n")
      .select(graft.functions.TextFunctions.lnPoly(col("n")).as("l"))
      .as[Double].collect()
    ns.zip(got).foreach { case (n, g) =>
      assert(java.lang.Double.doubleToRawLongBits(g) ==
        java.lang.Double.doubleToRawLongBits(lnRef(n)),
        s"bit mismatch at n=$n: got $g ref ${lnRef(n)}")
      assert(math.abs(g - math.log(n.toDouble)) < 2e-8,
        s"accuracy at n=$n: $g vs ${math.log(n.toDouble)}")
    }
  }
}

/** Graft.gapFill r10 rewrite (lazy per-partition span generation) vs the
  * r9 window form: bit-equal on a corpus with multi-key gaps, null values
  * (carry skips them), leading-null keys, single-observation keys, and
  * negative bucket ordinates. */
class GapFillSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val spark = SharedSpark.spark

  test("lazy gapFill is row-equal to the window form on gaps/nulls/edges") {
    import spark.implicits._
    val rows = Seq(
      // key 1: gaps, mid-null value (carried over), big gap
      (1L, 10L, Some(5.0)), (1L, 13L, None), (1L, 14L, Some(2.0)), (1L, 30L, Some(7.5)),
      // key 2: leading nulls (filled stays null until first non-null)
      (2L, 0L, None), (2L, 3L, None), (2L, 5L, Some(1.25)), (2L, 6L, None),
      // key 3: single observation
      (3L, 100L, Some(9.0)),
      // key 4: negative buckets (ts DIV keeps sign for negative epochs)
      (4L, -5L, Some(4.0)), (4L, -2L, None), (4L, 1L, Some(6.0)))
    // expand each (key, bucket, value) into 1-2 events inside the bucket
    val events: Seq[(Long, Long, java.lang.Double)] =
      rows.zipWithIndex.flatMap { case ((k, b, v), i) =>
        (0 to i % 2).map { j =>
          val split: java.lang.Double =
            v.map(x => java.lang.Double.valueOf(x / (i % 2 + 1))).orNull
          (k, b * 1000L + j * 37L, split)
        }
      }
    val df = events.toDF("user_id", "ts", "value").repartition(5)
    val fast = graft.api.Graft.gapFill(df, "user_id", "ts", "value", 1000L)
      .collect().map(_.toSeq).toSet
    val slow = graft.api.Graft.gapFillWindow(df, "user_id", "ts", "value", 1000L)
      .collect().map(_.toSeq).toSet
    assert(fast == slow)
    assert(fast.nonEmpty)
    // the dense-grid contract: key 1 covers every bucket 10..30
    val k1 = fast.filter(_.head == 1L).map(_(1).asInstanceOf[Long])
    assert(k1 == (10L to 30L).toSet)
  }
}
