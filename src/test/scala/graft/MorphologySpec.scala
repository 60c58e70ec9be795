package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.NdTensor
import graft.kernels.StencilKernel
import graft.operators.TiledStencil

/** Per-cell definition of binary erosion and dilation, the semantics of the
  * reference's `_binary_operation` (imops `src/_morphology.pyx:254-329`),
  * written one output cell at a time: each cell combines the input at every
  * footprint offset, AND for erosion and OR for dilation, and an offset that
  * falls outside the image reads the border value (true for erosion, false
  * for dilation). Dilation reflects the footprint and shifts the origin of
  * even axes by -1 (pyx:62-64). */
object MorphologyOracle {
  def apply(data: Array[Boolean], shape: Array[Int], fp: Array[Boolean], fshape: Array[Int],
            isDilation: Boolean): Array[Boolean] = {
    val rank = shape.length
    val strides = NdTensor.strides(shape)
    val fpStrides = NdTensor.strides(fshape)
    val used = if (isDilation) fp.reverse else fp
    val origin = fshape.map(s => if (isDilation && s % 2 == 0) s / 2 - 1 else s / 2)
    val offs = used.indices.filter(used(_))
      .map(f => Array.tabulate(rank)(d => (f / fpStrides(d)) % fshape(d) - origin(d)))
    val border = !isDilation
    Array.tabulate(data.length) { flat =>
      val idx = Array.tabulate(rank)(d => (flat / strides(d)) % shape(d))
      offs.foldLeft(border) { (acc, off) =>
        val c = Array.tabulate(rank)(d => idx(d) + off(d))
        val v =
          if ((0 until rank).forall(d => c(d) >= 0 && c(d) < shape(d)))
            data((0 until rank).map(d => c(d) * strides(d)).sum)
          else border
        if (isDilation) acc || v else acc && v
      }
    }
  }

  def erode(data: Array[Boolean], shape: Array[Int], fp: Array[Boolean], fshape: Array[Int]) =
    apply(data, shape, fp, fshape, isDilation = false)
  def dilate(data: Array[Boolean], shape: Array[Int], fp: Array[Boolean], fshape: Array[Int]) =
    apply(data, shape, fp, fshape, isDilation = true)
}

/** The word-at-a-time kernel against the per-cell oracle. */
class MorphologyOracleSpec extends AnyFunSuite {
  import MorphologyOracle.{dilate => oDilate, erode => oErode}

  private def show(shape: Array[Int], fs: Array[Int], fp: Array[Boolean]) =
    s"shape ${shape.mkString("x")} footprint ${fs.mkString("x")} ${fp.map(if (_) '1' else '0').mkString}"

  /** Random footprints of odd and even sizes (up to 5 per axis, so some
    * exceed the image), with holes, plus the empty, full and cross
    * footprints; ranks 1-4; every last-axis length 1-17, so each word
    * loop's byte tail runs at every remainder. */
  private val cases: Seq[(Array[Int], Array[Boolean], Array[Int], Array[Boolean])] = {
    val rng = new scala.util.Random(1992)
    val repsPerRank = Map(1 -> 6, 2 -> 4, 3 -> 2, 4 -> 1)
    for (rank <- 1 to 4; n <- 1 to 17; rep <- 0 until repsPerRank(rank)) yield {
      val outer = if (rank == 4) 4 else 6
      val shape = Array.tabulate(rank)(d => if (d == rank - 1) n else 1 + rng.nextInt(outer))
      val (fp, fs) = rep % 4 match {
        case 0 if rank <= 3 => StencilKernel.crossFootprint(rank)
        case 1 =>
          val fs = Array.fill(rank)(1 + rng.nextInt(3))
          (new Array[Boolean](fs.product), fs) // empty footprint
        case 2 =>
          val fs = Array.fill(rank)(1 + rng.nextInt(4))
          (Array.fill(fs.product)(true), fs)
        case _ =>
          val fs = Array.fill(rank)(1 + rng.nextInt(5))
          (Array.fill(fs.product)(rng.nextInt(5) < 3), fs)
      }
      val density = if (rng.nextBoolean()) 2 else 4
      (shape, fp, fs, Array.fill(shape.product)(rng.nextInt(density + 1) > 0))
    }
  }

  test("erode, dilate, close and open are bit-equal to the per-cell definition") {
    assert(cases.exists(_._3.length == 4) && cases.exists(c => !c._2.exists(identity)))
    cases.foreach { case (shape, fp, fs, m) =>
      val what = show(shape, fs, fp)
      assert(StencilKernel.erode(m, shape, fp, fs).sameElements(oErode(m, shape, fp, fs)), s"erode $what")
      assert(StencilKernel.dilate(m, shape, fp, fs).sameElements(oDilate(m, shape, fp, fs)), s"dilate $what")
      assert(StencilKernel.close(m, shape, fp, fs)
        .sameElements(oErode(oDilate(m, shape, fp, fs), shape, fp, fs)), s"close $what")
      assert(StencilKernel.open(m, shape, fp, fs)
        .sameElements(oDilate(oErode(m, shape, fp, fs), shape, fp, fs)), s"open $what")
    }
  }

  test("the default-cross entry points match the per-cell definition on long lines") {
    val rng = new scala.util.Random(8)
    for (shape <- Seq(Array(131), Array(9, 67), Array(5, 7, 45))) {
      val m = Array.fill(shape.product)(rng.nextInt(6) > 0)
      val (fp, fs) = StencilKernel.crossFootprint(shape.length)
      assert(StencilKernel.erodeDefault(m, shape).sameElements(oErode(m, shape, fp, fs)))
      assert(StencilKernel.dilateDefault(m, shape).sameElements(oDilate(m, shape, fp, fs)))
    }
  }

  test("boxed ops equal the per-cell definition at ranks 1-4") {
    val rng = new scala.util.Random(117)
    for (rank <- 1 to 4) {
      val shape = Array.tabulate(rank)(d => 8 + d + (if (d == rank - 1) 5 else 0))
      // the centre is in the footprint: a cropped erosion then reads its
      // border only at cells that are outside the support either way
      val fs = Array.fill(rank)(3)
      val fp = Array.tabulate(fs.product)(f => f == fs.product / 2 || rng.nextBoolean())
      // support well inside the image: cells 3 .. side-4 on every axis
      val strides = NdTensor.strides(shape)
      val m = Array.tabulate(shape.product) { f =>
        (0 until rank).forall { d => val c = (f / strides(d)) % shape(d); c >= 3 && c < shape(d) - 3 } &&
          rng.nextInt(3) > 0
      }
      assert(StencilKernel.boxed(m, shape, fp, fs, StencilKernel.dilate)
        .sameElements(oDilate(m, shape, fp, fs)), s"boxed dilate rank $rank")
      assert(StencilKernel.boxed(m, shape, fp, fs, StencilKernel.erode)
        .sameElements(oErode(m, shape, fp, fs)), s"boxed erode rank $rank")
    }
  }

  test("boxed ops equal the per-cell definition when the footprint lacks its centre") {
    // erosion without the centre can set cells outside the support: here
    // the last cell reads only outside the image, and the cells left of
    // the support read its true cells
    val line = Array.tabulate(10)(i => i == 5 || i == 6)
    val (fp1, fs1) = (Array(false, false, true), Array(3))
    assert(StencilKernel.boxed(line, Array(10), fp1, fs1, StencilKernel.erode)
      .sameElements(oErode(line, Array(10), fp1, fs1)), "boxed erode, 1-D shift")
    val rng = new scala.util.Random(2024)
    for (rank <- 1 to 4) {
      val shape = Array.tabulate(rank)(d => 8 + d + (if (d == rank - 1) 5 else 0))
      val fs = Array.fill(rank)(if (rank % 2 == 0) 4 else 3)
      val centre = fs.indices.foldLeft(0)((f, d) => f * fs(d) + fs(d) / 2)
      val fp = Array.tabulate(fs.product)(f => f != centre && rng.nextInt(3) > 0)
      val strides = NdTensor.strides(shape)
      val m = Array.tabulate(shape.product) { f =>
        (0 until rank).forall { d => val c = (f / strides(d)) % shape(d); c >= 3 && c < shape(d) - 3 } &&
          rng.nextInt(4) > 0
      }
      assert(StencilKernel.boxed(m, shape, fp, fs, StencilKernel.dilate)
        .sameElements(oDilate(m, shape, fp, fs)), s"boxed dilate rank $rank ${show(shape, fs, fp)}")
      assert(StencilKernel.boxed(m, shape, fp, fs, StencilKernel.erode)
        .sameElements(oErode(m, shape, fp, fs)), s"boxed erode rank $rank ${show(shape, fs, fp)}")
    }
  }

  test("data that does not fill its shape exactly is rejected") {
    val bad = Seq(
      (Array(16), 20),         // longer array: the last line would write past the output
      (Array(2, 16), 16),      // shorter array: the second line would read past the input
      (Array(3, 0), 4),        // zero last axis: the line walk would never advance
      (Array(-2, -2), 4),      // negative axes whose product matches the length
      (Array(65536, 65537), 65536)) // an Int product that overflows to the length
    for ((shape, cells) <- bad) {
      val m = Array.fill(cells)(true)
      val (fp, fs) = StencilKernel.crossFootprint(shape.length)
      val ops: Seq[(String, () => Array[Boolean])] = Seq(
        "erode" -> (() => StencilKernel.erode(m, shape, fp, fs)),
        "dilate" -> (() => StencilKernel.dilate(m, shape, fp, fs)),
        "boxed" -> (() => StencilKernel.boxed(m, shape, fp, fs, StencilKernel.dilate)))
      for ((name, op) <- ops)
        withClue(s"$name, $cells cells for shape ${shape.mkString("x")}: ") {
          assertThrows[IllegalArgumentException](op())
        }
    }
  }
}

/** Both tiled routes against the per-cell definition, with footprints wider
  * than the cross so the halo is two cells deep and even sizes move the
  * dilation origin. */
class TiledFootprintSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._

  test("2-D tiled ops with even and odd arbitrary footprints match the per-cell definition") {
    val rng = new scala.util.Random(5)
    val (rows, cols, ts) = (24, 36, 12)
    val mask = Array.fill(rows * cols)(rng.nextInt(4) > 0)
    val tiles = TiledStencil.tile(mask, rows, cols, ts).toDS()
    for (fs <- Seq(Array(5, 3), Array(4, 4)); isDil <- Seq(false, true)) {
      val fp = Array.fill(fs.product)(rng.nextInt(3) > 0)
      val got = TiledStencil.untile(
        TiledStencil.apply(tiles, ts, rows / ts, cols / ts, fp, fs, isDil).collect(), rows, cols, ts)
      assert(got.sameElements(MorphologyOracle(mask, Array(rows, cols), fp, fs, isDil)),
        s"${fs.mkString("x")} dil=$isDil")
    }
  }

  test("3-D halo and assembled routes with an arbitrary footprint match the per-cell definition") {
    val rng = new scala.util.Random(6)
    val dims = Array(16, 8, 24)
    val ts = 8
    val grid = dims.map(_ / ts)
    val mask = Array.fill(dims.product)(rng.nextInt(5) > 0)
    val tiles = TiledStencil.tile3(mask, dims, ts).toDS()
    val fs = Array(4, 3, 5)
    val fp = Array.fill(fs.product)(rng.nextInt(3) > 0)
    for (isDil <- Seq(false, true)) {
      val want = MorphologyOracle(mask, dims, fp, fs, isDil)
      val halo = TiledStencil.untile3(TiledStencil.apply3(tiles, ts, grid, fp, fs, isDil).collect(), dims, ts)
      val asm = TiledStencil.untile3(
        TiledStencil.apply3Assembled(tiles, ts, grid, fp, fs, isDil).collect(), dims, ts)
      assert(halo.sameElements(want), s"halo dil=$isDil")
      assert(asm.sameElements(want), s"assembled dil=$isDil")
    }
  }
}
