package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.ZoomKernel
import graft.operators.VolumeZoom
import graft.operators.VolumeZoom.ZSlice

class VolumeZoomSpec extends AnyFunSuite {
  private implicit val spark: org.apache.spark.sql.SparkSession = SharedSpark.spark
  import spark.implicits._

  private def volume(dims: Array[Int], seed: Int): Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dims.product)(rng.nextDouble() * 100 - 30)
  }

  private def runBoth(dims: Array[Int], scale: Array[Double], order: Int, seed: Int,
                      stripeSize: Int = 16): Unit = {
    val data = volume(dims, seed)
    val Array(d0, d1, d2) = dims
    val slices = (0 until d0).map { s =>
      ZSlice(7L, s, data.slice(s * d1 * d2, (s + 1) * d1 * d2))
    }.toDS()
    val (expData, expShape) = ZoomKernel.zoom(data, dims, scale, order, 0.0)
    val got = VolumeZoom(slices, dims, scale, order, stripeSize)
      .collect().sortBy(_.sid)
    assert(got.map(_.sid).toSeq == (0 until expShape(0)),
      s"output slice set mismatch for order $order")
    val reassembled = got.flatMap(_.data)
    // bit-exact: same tables, same corner order, same weight association
    assert(reassembled.length == expData.length)
    assert(reassembled.zip(expData).forall { case (a, b) => a == b || (a.isNaN && b.isNaN) },
      s"order-$order mismatch vs single-row kernel")
  }

  test("slice-distributed zoom is bit-identical to the in-row kernel (order 1)") {
    runBoth(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 1, seed = 5)
    runBoth(Array(5, 6, 7), Array(2.0, 1.5, 0.5), order = 1, seed = 11)
  }

  test("slice-distributed zoom is bit-identical to the in-row kernel (order 0)") {
    runBoth(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 0, seed = 23)
    runBoth(Array(9, 4, 5), Array(0.6, 2.5, 1.0), order = 0, seed = 31)
  }

  test("Graft.zoomVolume rows read back intact through .rdd.collect") {
    // VolumeZoom reuses one output buffer per stripe group; at 8 output
    // slices per core each group emits several slices, which a typed
    // result collected through .rdd would alias to the last one written
    val dims = Array(8 * spark.sparkContext.defaultParallelism, 5, 6)
    val scale = Array(1.0, 1.4, 0.7)
    val data = volume(dims, 13)
    val slices = (0 until dims(0)).map { s =>
      ZSlice(7L, s, data.slice(s * dims(1) * dims(2), (s + 1) * dims(1) * dims(2)))
    }.toDS()
    val (expData, expShape) = ZoomKernel.zoom(data, dims, scale, 1, 0.0)
    val got = graft.api.Graft.zoomVolume(slices, dims, scale).rdd.collect()
      .map(r => r.getInt(1) -> r.getSeq[Double](2)).sortBy(_._1)
    assert(got.map(_._1).toSeq == (0 until expShape(0)))
    assert(got.flatMap(_._2).toSeq == expData.toSeq)
  }

  test("downscale to a single output slice gathers the right sources") {
    runBoth(Array(8, 6, 6), Array(0.125, 1.0, 1.0), order = 1, seed = 41)
  }

  test("small stripes (multi-stripe grouping) stay bit-identical") {
    runBoth(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 1, seed = 5, stripeSize = 4)
    runBoth(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 0, seed = 23, stripeSize = 3)
  }

  private def runStrips(dims: Array[Int], scale: Array[Double], order: Int, seed: Int,
                        maxRowBytes: Int): Unit = {
    val data = volume(dims, seed)
    val Array(d0, d1, d2) = dims
    val slices = (0 until d0).map { s =>
      ZSlice(7L, s, data.slice(s * d1 * d2, (s + 1) * d1 * d2))
    }.toDS()
    val full = VolumeZoom(slices, dims, scale, order, 4).collect().sortBy(_.sid)
    val striped = VolumeZoom.strips(slices, dims, scale, order, 4, maxRowBytes)
    // no emitted strip exceeds the byte bound (unless one row alone does)
    val rawStrips = striped.collect()
    val n2 = ZoomKernel.outDim(d2, scale(2))
    assert(rawStrips.forall(s => s.data.length * 8 <= math.max(maxRowBytes, n2 * 8)),
      "strip exceeds maxRowBytes")
    val stitched = VolumeZoom.stitch(striped).collect().sortBy(_.sid)
    assert(stitched.map(_.sid).toSeq == full.map(_.sid).toSeq)
    full.zip(stitched).foreach { case (a, b) =>
      assert(a.data.length == b.data.length)
      assert(a.data.zip(b.data).forall { case (x, y) => x == y || (x.isNaN && y.isNaN) },
        s"order-$order strip/slice mismatch at sid ${a.sid}")
    }
  }

  test("strip emission stitches bit-identical to the slice path") {
    // maxRowBytes forces multiple strips per slice (n1 out ~ 7-15 rows)
    runStrips(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 1, seed = 5, maxRowBytes = 3 * 16 * 8)
    runStrips(Array(5, 6, 7), Array(2.0, 1.5, 0.5), order = 1, seed = 11, maxRowBytes = 2 * 4 * 8)
    runStrips(Array(12, 10, 8), Array(1.5, 0.7, 2.0), order = 0, seed = 23, maxRowBytes = 4 * 16 * 8)
  }

  test("strip emission with a huge bound degrades to one strip per slice") {
    val dims = Array(6, 5, 4); val scale = Array(1.5, 1.5, 1.5)
    val data = volume(dims, 77)
    val slices = (0 until 6).map { s =>
      ZSlice(1L, s, data.slice(s * 20, (s + 1) * 20))
    }.toDS()
    val striped = VolumeZoom.strips(slices, dims, scale, order = 1, 4, Int.MaxValue).collect()
    assert(striped.forall(_.strip == 0))
  }
}
