package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel
import graft.kernels.{HullKernel, Interp2dKernel, LabelKernel, StencilKernel}
import graft.operators.{DistributedLabel, GraphCC, TiledStencil}
import graft.operators.TiledStencil.Tile

class HullKernelSpec extends AnyFunSuite {
  test("triangle corners fill a pyramid (offset coordinates)") {
    val m = new Array[Boolean](25)
    m(0) = true; m(4) = true; m(20) = true // (0,0),(0,4),(4,0)
    val out = HullKernel.convexHullImage(m, Array(5, 5))
    val rows = (0 until 5).map(r => (0 until 5).count(c => out(r * 5 + c)))
    assert(rows == Seq(5, 4, 3, 2, 1), s"got $rows")
  }

  test("solid rectangle is its own hull") {
    val m = new Array[Boolean](30)
    for (i <- 1 to 3; j <- 1 to 4) m(i * 6 + j) = true
    val out = HullKernel.convexHullImage(m, Array(5, 6))
    assert(out.sameElements(m))
  }

  test("empty and degenerate masks return all-false") {
    assert(!HullKernel.convexHullImage(new Array[Boolean](12), Array(3, 4)).exists(identity))
    // single pixel: offset coords give a diamond -> fills just that pixel
    val single = new Array[Boolean](9); single(4) = true
    val out = HullKernel.convexHullImage(single, Array(3, 3))
    assert(out.sameElements(single))
    // without offsets a single point is degenerate -> QhullError path -> zeros
    assert(!HullKernel.convexHullImage(single, Array(3, 3), offsetCoordinates = false).exists(identity))
  }

  test("hull contains its input and never shrinks under re-application") {
    // NOTE: exact idempotence does not hold for the reference algorithm
    // either — the half-pixel offsets plus the +-0.2 rasterization fudge can
    // grow diagonal edges by a pixel on re-application. The guaranteed
    // invariants are input ⊆ hull and hull(hull) ⊇ hull.
    val rng = new scala.util.Random(5)
    val m = Array.fill(100)(rng.nextInt(4) == 0)
    if (m.exists(identity)) {
      val h1 = HullKernel.convexHullImage(m, Array(10, 10))
      val h2 = HullKernel.convexHullImage(h1, Array(10, 10))
      for (i <- 0 until 100) {
        assert(!m(i) || h1(i), s"input pixel $i not in hull")
        assert(!h1(i) || h2(i), s"hull pixel $i lost on re-application")
      }
    }
  }
}

class Interp2dKernelSpec extends AnyFunSuite {
  test("reproduces a linear function inside the hull, fill outside") {
    val rng = new scala.util.Random(9)
    val n = 30
    val px = Array.fill(n)(rng.nextDouble() * 10)
    val py = Array.fill(n)(rng.nextDouble() * 10)
    def f(x: Double, y: Double) = 2 * x + 3 * y + 1
    val values = Array.tabulate(n)(i => f(px(i), py(i)))
    val tr = Interp2dKernel.triangulate(px, py)
    assert(tr.nTris > 0)
    // interior queries: centroid of sample triples stays in the hull
    for (_ <- 0 until 50) {
      val (a, b, c) = (rng.nextInt(n), rng.nextInt(n), rng.nextInt(n))
      val qx = (px(a) + px(b) + px(c)) / 3
      val qy = (py(a) + py(b) + py(c)) / 3
      val got = Interp2dKernel.interpolate(tr, values, qx, qy, Double.NaN)
      assert(math.abs(got - f(qx, qy)) < 1e-6, s"at ($qx,$qy): $got vs ${f(qx, qy)}")
    }
    // far outside -> fill
    assert(Interp2dKernel.interpolate(tr, values, 1e3, 1e3, -7.0) == -7.0)
  }

  test("exact at sample points") {
    val px = Array(0.0, 1.0, 0.0, 1.0)
    val py = Array(0.0, 0.0, 1.0, 1.0)
    val v = Array(1.0, 2.0, 3.0, 4.0)
    val tr = Interp2dKernel.triangulate(px, py)
    for (i <- 0 until 4)
      assert(math.abs(Interp2dKernel.interpolate(tr, v, px(i), py(i), Double.NaN) - v(i)) < 1e-9)
  }
}

class TiledStencilSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._

  test("tiled erosion/dilation equals whole-array kernel") {
    val rng = new scala.util.Random(21)
    val (rows, cols, ts) = (32, 48, 16)
    val mask = Array.fill(rows * cols)(rng.nextInt(3) > 0)
    val tiles = TiledStencil.tile(mask, rows, cols, ts).toDS()
    val (gr, gc) = (rows / ts, cols / ts)

    val erodedTiles = TiledStencil.erode(tiles, ts, gr, gc).collect()
    val eroded = TiledStencil.untile(erodedTiles, rows, cols, ts)
    assert(eroded.sameElements(StencilKernel.erodeDefault(mask, Array(rows, cols))))

    val dilatedTiles = TiledStencil.dilate(tiles, ts, gr, gc).collect()
    val dilated = TiledStencil.untile(dilatedTiles, rows, cols, ts)
    assert(dilated.sameElements(StencilKernel.dilateDefault(mask, Array(rows, cols))))
  }

  test("3-D tiled erosion/dilation equals whole-volume kernel") {
    val rng = new scala.util.Random(77)
    val dims = Array(16, 32, 16)
    val ts = 8
    val mask = Array.fill(dims.product)(rng.nextInt(4) > 0)
    val tiles = TiledStencil.tile3(mask, dims, ts).toDS()
    val grid = dims.map(_ / ts)
    val eroded = TiledStencil.untile3(
      TiledStencil.erode3(tiles, ts, grid).collect(), dims, ts)
    assert(eroded.sameElements(StencilKernel.erodeDefault(mask, dims)))
    val dilated = TiledStencil.untile3(
      TiledStencil.dilate3(tiles, ts, grid).collect(), dims, ts)
    assert(dilated.sameElements(StencilKernel.dilateDefault(mask, dims)))
  }

  test("tile/untile roundtrip") {
    val rng = new scala.util.Random(2)
    val mask = Array.fill(32 * 32)(rng.nextBoolean())
    val t = TiledStencil.tile(mask, 32, 32, 16)
    assert(TiledStencil.untile(t, 32, 32, 16).sameElements(mask))
  }

  test("assembled 3-D path and the auto router are bit-equal to halo exchange") {
    val rng = new scala.util.Random(91)
    val dims = Array(16, 16, 32)
    val ts = 8
    val grid = dims.map(_ / ts)
    // two volume ids in one frame: the assembled path's parallelism axis
    val tiles = (TiledStencil.tile3(Array.fill(dims.product)(rng.nextInt(4) > 0), dims, ts, id = 0L) ++
      TiledStencil.tile3(Array.fill(dims.product)(rng.nextInt(3) > 0), dims, ts, id = 1L)).toDS()
    val (fp, fs) = StencilKernel.crossFootprint(3)
    for (isDil <- Seq(false, true)) {
      val halo = TiledStencil.apply3(tiles, ts, grid, fp, fs, isDil).collect()
        .groupBy(_.id).view.mapValues(g => TiledStencil.untile3(g.toSeq, dims, ts)).toMap
      val asm = TiledStencil.apply3Assembled(tiles, ts, grid, fp, fs, isDil).collect()
        .groupBy(_.id).view.mapValues(g => TiledStencil.untile3(g.toSeq, dims, ts)).toMap
      val auto = TiledStencil.apply3Auto(tiles, ts, grid, fp, fs, isDil).collect()
        .groupBy(_.id).view.mapValues(g => TiledStencil.untile3(g.toSeq, dims, ts)).toMap
      assert(halo.keySet == Set(0L, 1L) && asm.keySet == halo.keySet && auto.keySet == halo.keySet)
      halo.foreach { case (id, h) =>
        assert(h.sameElements(asm(id)), s"assembled != halo for id $id dil=$isDil")
        assert(h.sameElements(auto(id)), s"auto != halo for id $id dil=$isDil")
      }
    }
    // routing rule: this toy volume sits under the cutoff, the 100 TB
    // shape (e.g. 1024³) above it — the threshold is per-volume cells
    assert(dims.map(_.toLong).product <= TiledStencil.AssembleCutoffCells)
    assert(1024L * 1024 * 1024 > TiledStencil.AssembleCutoffCells)
  }
}

class DistributedLabelSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._

  /** A boolean mask of shape `dims` cut into `ts`-sided tiles, labeled at
    * `conn`; 2-D and 3-D masks take the matching DistributedLabel form. */
  private final class LabelCase(val name: String, val mask: Array[Boolean], val dims: Array[Int],
                                val ts: Int, val conn: Int) {
    def grid: Array[Int] = dims.map(_ / ts)

    /** (global flat index -> label) through DistributedLabel with the
      * driver route's component cutoff `localCutoff` (0 forces the
      * distributed route). */
    def labels(localCutoff: Long = GraphCC.LocalVertexCutoff): Map[Long, Long] = {
      val df =
        if (dims.length == 2)
          DistributedLabel.label2(TiledStencil.tile(mask, dims(0), dims(1), ts).toDS(), ts,
            grid(0), grid(1), conn, localCutoff)
        else
          DistributedLabel.label3(TiledStencil.tile3(mask, dims, ts).toDS(), ts, grid, conn,
            localCutoff)
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    def kernel: Map[Long, Long] =
      LabelKernel.label(mask.map(b => if (b) 1.0 else 0.0), dims, connectivity = conn)
        .labels.zipWithIndex.collect { case (lb, i) if lb != 0 => i.toLong -> lb }.toMap
  }

  private def randomCase(name: String, seed: Int, dims: Array[Int], ts: Int, conn: Int)
                        (keep: scala.util.Random => Boolean): LabelCase = {
    val rng = new scala.util.Random(seed)
    new LabelCase(name, Array.fill(dims.product)(keep(rng)), dims, ts, conn)
  }

  // dense-ish, cross-tile comps
  private val dense2 = randomCase("2-D conn 1", 33, Array(32, 32), 16, 1)(_.nextInt(3) > 0)
  private val dense3 = randomCase("3-D conn 1", 91, Array(16, 16, 16), 8, 1)(_.nextInt(3) > 0)
  // sparse mask: diagonal tile-corner merges must actually decide
  // components for this to discriminate
  private val sparse2 = randomCase("2-D conn 2", 17, Array(32, 32), 16, 2)(_.nextInt(4) == 0)
  // sparse mask so edge/corner adjacency actually decides components —
  // a dense mask converges to one blob under 18/26-adjacency and would
  // pass even with a broken shell-probe exchange
  private val sparse3 = Seq(2, 3).map(conn =>
    randomCase(s"3-D conn $conn", 7, Array(16, 16, 16), 8, conn)(_.nextInt(5) == 0))
  private val lines = {
    val (rows, cols) = (32, 32)
    val mask = new Array[Boolean](rows * cols)
    for (j <- 0 until cols) mask(15 * cols + j) = true   // horizontal line row 15
    for (i <- 0 until rows) mask(i * cols + 20) = true   // vertical line col 20
    new LabelCase("spanning lines", mask, Array(rows, cols), 16, 1)
  }

  test("tiled labeling matches the single-node kernel exactly") {
    val got = dense2.labels()
    val expected = dense2.kernel
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("3-D tiled labeling matches the single-node kernel exactly") {
    assert(dense3.labels() == dense3.kernel)
  }

  test("2-D tiled labeling at connectivity 2 (8-adjacency) matches the kernel") {
    assert(sparse2.labels() == sparse2.kernel)
  }

  test("3-D tiled labeling at connectivity 2 and 3 matches the kernel") {
    for (c <- sparse3) assert(c.labels() == c.kernel, s"${c.name} mismatch")
  }

  test("components spanning many tiles merge to one label") {
    val labels = lines.labels().values.toSet
    assert(labels == Set(1L))
  }

  // non-cubic grids: a border matcher that swapped axes or grid sizes
  // would still pass on the cubic and square masks above. Densities sit
  // near each connectivity's percolation threshold, so many components
  // cross tile borders without merging into one blob.
  private val nonCubic =
    Seq(1 -> 0.3, 2 -> 0.12, 3 -> 0.08).map { case (conn, p) =>
      randomCase(s"3-D 16x8x24 conn $conn", 41 + conn, Array(16, 8, 24), 8, conn)(_.nextDouble() < p)
    } ++ Seq(1 -> 0.55, 2 -> 0.35).map { case (conn, p) =>
      randomCase(s"2-D 16x48 conn $conn", 51 + conn, Array(16, 48), 16, conn)(_.nextDouble() < p)
    }

  test("driver and distributed merge routes give identical labels on every mask") {
    // every mask above resolves on the driver route by default;
    // localCutoff 0 sends it through the GraphCC fixpoint and the
    // distributed densify instead
    val empty = new LabelCase("all-false 3-D", new Array[Boolean](16 * 16 * 16),
      Array(16, 16, 16), 8, 1)
    for (c <- Seq(dense2, sparse2, dense3) ++ sparse3 ++ Seq(lines, empty) ++ nonCubic) {
      val driver = c.labels()
      val distributed = c.labels(localCutoff = 0L)
      assert(driver == distributed, s"${c.name}: routes disagree")
      assert(driver == c.kernel, s"${c.name}: driver route != kernel")
    }
  }

  test("intermediate caches are released; only the result frame stays persisted") {
    // r12 release policy: repeated labeling must not accumulate cached
    // RDDs for the session lifetime (the r11 shape leaked the pixel frame
    // and, at conn >= 2, the shell frame per call). The result itself is a
    // local checkpoint (it materializes eagerly) — so after N calls at most
    // N result-backing RDDs may remain, none of them in the CacheManager:
    // Spark frees them once the frames are unreachable.
    def persistedCount = spark.sparkContext.getPersistentRDDs.size
    def check(what: String)(call: () => org.apache.spark.sql.DataFrame): Unit = {
      val n = 3
      val before = persistedCount
      val results = Seq.fill(n)(call())
      results.foreach(_.count())
      val after = persistedCount
      assert(after - before <= n,
        s"$what: expected at most the $n result frames to stay materialized, " +
          s"but $before -> $after persisted RDDs")
      results.foreach(r => assert(r.storageLevel == StorageLevel.NONE,
        s"$what: the result frame is held by the CacheManager"))
    }
    val rng = new scala.util.Random(3)
    val (rows, cols, ts) = (32, 32, 16)
    val mask = Array.fill(rows * cols)(rng.nextInt(3) > 0)
    val tiles = TiledStencil.tile(mask, rows, cols, ts).toDS()
    check("2-D conn 2")(() => DistributedLabel(tiles, ts, rows / ts, cols / ts, connectivity = 2))
    // the benchmark's shape: apply3 at connectivity 1, on both routes, over
    // tiles its caller persisted; labeling releases its own caches, never
    // the caller's
    val tiles3 = TiledStencil.tile3(dense3.mask, dense3.dims, dense3.ts).toDS()
      .persist(StorageLevel.MEMORY_AND_DISK)
    tiles3.count()
    try {
      check("3-D conn 1, driver route")(() =>
        DistributedLabel.apply3(tiles3, dense3.ts, dense3.grid))
      check("3-D conn 1, distributed route")(() =>
        DistributedLabel.label3(tiles3, dense3.ts, dense3.grid, 1, localCutoff = 0L))
      assert(tiles3.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "the caller's persisted tiles lost their storage level")
      // a fresh Dataset over the same plan, so the lookup is not a stale one
      assert(tiles3.toDF().queryExecution.withCachedData
        .find(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]).isDefined,
        "the caller's persisted tiles lost their CacheManager entry")
    } finally tiles3.unpersist(blocking = true)
  }

  test("the driver route runs at most three stages and shuffles nothing") {
    // pins the plan shape: count, collect and relabel, one stage each. A
    // pixel-row join or an aggregate exchange put back would add stages
    // and shuffle bytes.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val tiles3 = TiledStencil.tile3(dense3.mask, dense3.dims, dense3.ts).toDS()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      DistributedLabel.label3(tiles3, dense3.ts, dense3.grid, 1, GraphCC.LocalVertexCutoff)
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(stages.get >= 1 && stages.get <= 3, s"${stages.get} stages")
    assert(shuffleBytes.get == 0L, s"${shuffleBytes.get} shuffle bytes written")
  }
}

class DistributedEdtSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("per-axis line passes match the single-node kernel with sampling") {
    val rng = new scala.util.Random(13)
    val (rows, cols) = (12, 17)
    val mask = Array.fill(rows * cols)(rng.nextInt(3) > 0)
    if (mask.contains(false)) {
      val px = (0 until rows * cols).map(f => (f / cols, f % cols, mask(f))).toDF("i", "j", "mask")
      val got = graft.operators.DistributedEdt(px, sampling = (2.0, 1.0))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exp = graft.kernels.EdtKernel.edt(mask, Array(rows, cols), Array(2.0, 1.0))
      for (f <- 0 until rows * cols) {
        val k = ((f / cols).toLong, (f % cols).toLong)
        assert(math.abs(got(k) - exp(f)) < 1e-9, s"at $k: ${got(k)} vs ${exp(f)}")
      }
    }
  }

  test("3-D line passes match the single-node kernel with anisotropic sampling") {
    val rng = new scala.util.Random(29)
    val dims = Array(7, 9, 11)
    val n = dims.product
    val mask = Array.fill(n)(rng.nextInt(3) > 0)
    if (mask.contains(false)) {
      val vx = (0 until n).map { f =>
        (f / (dims(1) * dims(2)), (f / dims(2)) % dims(1), f % dims(2), mask(f))
      }.toDF("i", "j", "k", "mask")
      val got = graft.operators.DistributedEdt.apply3(vx, sampling = (2.0, 1.0, 0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
      val exp = graft.kernels.EdtKernel.edt(mask, dims, Array(2.0, 1.0, 0.5))
      for (f <- 0 until n) {
        val key = ((f / (dims(1) * dims(2))).toLong, ((f / dims(2)) % dims(1)).toLong,
          (f % dims(2)).toLong)
        assert(math.abs(got(key) - exp(f)) < 1e-9, s"at $key: ${got(key)} vs ${exp(f)}")
      }
    }
  }
}

class TiledZoomSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._
  import graft.operators.TiledZoom
  import graft.kernels.ZoomKernel

  test("striped zoom is bit-identical to the in-row kernel") {
    val rng = new scala.util.Random(55)
    val (rows, cols, ts) = (32, 20, 8)
    val data = Array.fill(rows * cols)(rng.nextDouble() * 10 - 5)
    for ((s0, s1, order) <- Seq((2.0, 2.0, 1), (0.7, 1.3, 1), (1.0, 0.5, 0), (1.4, 0.6, 0))) {
      val (exp, expShape) = ZoomKernel.zoom(data, Array(rows, cols), Array(s0, s1), order, 0.0)
      val stripes = TiledZoom.toStripes(data, rows, cols, ts).toDS()
      val outStripes = TiledZoom(stripes, ts, rows, cols, s0, s1, order).collect()
      val got = TiledZoom.fromStripes(outStripes, expShape(0), expShape(1), ts)
      assert(got.length == exp.length, s"scale ($s0,$s1) order $order")
      got.zip(exp).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"scale ($s0,$s1) order $order at $i: $a vs $b")
      }
    }
  }
}

class TriGridSpec extends AnyFunSuite {
  test("bucketed interpolation equals the linear scan everywhere") {
    val rng = new scala.util.Random(23)
    val n = 60
    val px = Array.fill(n)(rng.nextDouble() * 10)
    val py = Array.fill(n)(rng.nextDouble() * 10)
    val v = Array.fill(n)(rng.nextDouble() * 100)
    val tr = Interp2dKernel.triangulate(px, py)
    val grid = Interp2dKernel.buildGrid(tr)
    for (_ <- 0 until 300) {
      val (qx, qy) = (rng.nextDouble() * 12 - 1, rng.nextDouble() * 12 - 1)
      val slow = Interp2dKernel.interpolate(tr, v, qx, qy, -5.0)
      val fast = Interp2dKernel.interpolateFast(tr, grid, v, qx, qy, -5.0)
      assert(slow == fast, s"at ($qx,$qy): $slow vs $fast")
    }
  }
}

class LshBlockingSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.LshBlocking

  test("collapseExact keeps exactly one min-id representative per content") {
    val docs = Seq((1L, "aa"), (5L, "aa"), (3L, "aa"), (2L, "bb"), (9L, "cc"))
      .toDF("doc_id", "text")
    val reps = LshBlocking.collapseExact(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(reps.toSeq == Seq((1L, "aa"), (2L, "bb"), (9L, "cc")))
    val mapping = LshBlocking.repMapping(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(mapping.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 1L), (5L, 1L), (9L, 9L)))
  }

  test("cappedBands drops hot buckets and candidatePairs stays bounded") {
    // bucket h=0 has 5 members (hot), h=1 has 3, h=2 has 1
    val bands = ((0 until 5).map(i => (i.toLong, 0, "h0")) ++
      (10 until 13).map(i => (i.toLong, 0, "h1")) :+ (20L, 0, "h2"))
      .toDF("doc_id", "band", "h")
    val kept = LshBlocking.cappedBands(bands, "band", "h", cap = 4)
    assert(kept.select("h").distinct().as[String].collect().toSet == Set("h1", "h2"))
    val dropped = LshBlocking.droppedBuckets(bands, "band", "h", cap = 4)
      .as[(Int, String, Long)].collect()
    assert(dropped.toSeq == Seq((0, "h0", 5L)))
    // capped join: only h1's 3*(3-1)/2 pairs survive
    val pairs = LshBlocking.candidatePairs(bands, "band", "h", "doc_id", cap = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // carry columns duplicate per side
    val withCarry = LshBlocking.candidatePairs(
      bands.withColumn("p", concat(lit("x"), col("doc_id"))),
      "band", "h", "doc_id", cap = 4, carry = Seq("p"))
    assert(withCarry.columns.toSeq == Seq("id1", "id2", "p_1", "p_2"))
    assert(withCarry.count() == 3)
  }

  test("hammingPairs is complete and exact vs brute force, int and long, any r") {
    val rnd = new scala.util.Random(7)
    val xs = (1 to 150).map(i => (i.toLong, rnd.nextInt(1 << 16).toLong))
    for (r <- Seq(1, 3, 9)) { // r=9 is past the optimizer rule's everyday range
      val expected = (for {
        (i, x) <- xs; (jj, y) <- xs
        if i < jj && java.lang.Long.bitCount(x ^ y) <= r
      } yield (i, jj, java.lang.Long.bitCount(x ^ y))).sorted
      val gotL = LshBlocking.hammingPairs(xs.toDF("id", "fp"), "id", "fp", r)
        .as[(Long, Long, Int)].collect().sorted
      assert(gotL.toSeq == expected, s"long fingerprints, r=$r")
      val gotI = LshBlocking.hammingPairs(
          xs.map { case (i, x) => (i, x.toInt) }.toDF("id", "fp"), "id", "fp", r)
        .as[(Long, Long, Int)].collect().sorted
      assert(gotI.toSeq == expected, s"int fingerprints, r=$r")
      assert(expected.nonEmpty, s"differential corpus too weak at r=$r")
    }
    // the plan is a band equi-join, never a product
    val plan = LshBlocking.hammingPairs(xs.toDF("id", "fp"), "id", "fp", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
  }

  test("hammingPairs sizes bands to short/byte widths and rejects non-integral types") {
    // ADVICE r8: a 16-bit fingerprint typed SMALLINT must band over 16
    // bits (a 32-bit banding would make the upper bands constant-zero,
    // colliding ALL rows) and the popcount must ignore sign-extension
    // phantom bits for mixed-sign pairs
    val rnd = new scala.util.Random(13)
    val sx = (1 to 120).map(i => (i.toLong, rnd.nextInt(1 << 16).toShort))
    for (r <- Seq(1, 3)) {
      val expected = (for {
        (i, x) <- sx; (jj, y) <- sx
        if i < jj && java.lang.Integer.bitCount((x ^ y) & 0xffff) <= r
      } yield (i, jj, java.lang.Integer.bitCount((x ^ y) & 0xffff))).sorted
      val got = LshBlocking.hammingPairs(sx.toDF("id", "fp"), "id", "fp", r)
        .as[(Long, Long, Int)].collect().sorted
      assert(got.toSeq == expected, s"short fingerprints, r=$r")
      assert(expected.nonEmpty)
    }
    assert(sx.exists(_._2 < 0) && sx.exists(_._2 >= 0), "need mixed-sign shorts")
    val bx = (1 to 80).map(i => (i.toLong, rnd.nextInt(256).toByte))
    val expectedB = (for {
      (i, x) <- bx; (jj, y) <- bx
      if i < jj && java.lang.Integer.bitCount((x ^ y) & 0xff) <= 2
    } yield (i, jj, java.lang.Integer.bitCount((x ^ y) & 0xff))).sorted
    val gotB = LshBlocking.hammingPairs(bx.toDF("id", "fp"), "id", "fp", 2)
      .as[(Long, Long, Int)].collect().sorted
    assert(gotB.toSeq == expectedB, "byte fingerprints, r=2")
    val e = intercept[IllegalArgumentException] {
      LshBlocking.hammingPairs(
        Seq((1L, "ab")).toDF("id", "fp"), "id", "fp", 1)
    }
    assert(e.getMessage.contains("integral"))
  }
}

class TiledScatteredInterpSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("tiled interpolation equals the global triangulation away from hull boundaries") {
    val rng = new scala.util.Random(41)
    val n = 250
    val px = Array.fill(n)(rng.nextDouble() * 20)
    val py = Array.fill(n)(rng.nextDouble() * 20)
    val pv = Array.fill(n)(rng.nextDouble() * 100)
    val pts = (0 until n).map(i => (px(i), py(i), pv(i))).toDF("x", "y", "v")
    // queries well inside the sampled square (margin 3 from the hull rim)
    val qs = (0 until 300).map { k =>
      (k.toLong, 3.0 + rng.nextDouble() * 14, 3.0 + rng.nextDouble() * 14)
    }.toDF("qid", "qx", "qy")
    val global = graft.operators.ScatteredInterp(
        pts, "x", "y", "v", qs, "qx", "qy", "g", fill = -999.0)
      .select("qid", "g")
    // tile 5, halo 6: interior circumradii at this density are ~1, so every
    // containing triangle's witnesses are inside the halo box -> exact
    val tiled = graft.operators.TiledScatteredInterp(
      pts, "x", "y", "v", qs, "qid", "qx", "qy", "t", fill = -999.0,
      tileSize = 5.0, halo = 6.0)
    val joined = global.join(tiled.select("qid", "t"), "qid")
      .as[(Long, Double, Double)].collect()
    assert(joined.length == 300)
    val bad = joined.filter { case (_, g, t) => math.abs(g - t) > 1e-9 }
    assert(bad.isEmpty, s"${bad.length} seam mismatches, first: ${bad.take(3).toSeq}")
    // none of the interior queries fell to fill on either path
    assert(joined.forall(_._2 != -999.0))
  }

  test("tile with too few points fills; queries outside every tile fill") {
    val pts = Seq((0.0, 0.0, 1.0), (1.0, 0.0, 2.0), (0.0, 1.0, 3.0)).toDF("x", "y", "v")
    val qs = Seq((1L, 0.25, 0.25), (2L, 500.0, 500.0)).toDF("qid", "qx", "qy")
    val out = graft.operators.TiledScatteredInterp(
        pts, "x", "y", "v", qs, "qid", "qx", "qy", "o", fill = -5.0,
        tileSize = 10.0, halo = 2.0)
      .orderBy("qid").select("o").as[Double].collect()
    assert(out(0) != -5.0) // inside the little triangle
    assert(out(1) == -5.0) // far tile, no points
  }
}

class GraftInterp2dRoutingSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  test("facade interp2d routes small sets to broadcast and agrees with the tiled path") {
    val rng = new scala.util.Random(7)
    val pts = (0 until 80).map(_ => (rng.nextDouble() * 10, rng.nextDouble() * 10, rng.nextDouble()))
      .toDF("x", "y", "v")
    val qs = (0 until 50).map(k => (k.toLong, 2 + rng.nextDouble() * 6, 2 + rng.nextDouble() * 6))
      .toDF("qid", "qx", "qy")
    val viaFacade = graft.api.Graft.interp2d(pts, "x", "y", "v", qs, "qid", "qx", "qy", "o", -1.0)
      .orderBy("qid").select("o").as[Double].collect()
    val viaTiled = graft.operators.TiledScatteredInterp(pts, "x", "y", "v",
        qs, "qid", "qx", "qy", "o", -1.0, tileSize = 4.0, halo = 5.0)(spark)
      .orderBy("qid").select("o").as[Double].collect()
    viaFacade.zip(viaTiled).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }
}
