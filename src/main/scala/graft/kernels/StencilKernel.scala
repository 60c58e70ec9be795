package graft.kernels

import graft.core.{Box, NdTensor}
import org.apache.spark.unsafe.Platform

/** Binary morphology stencil kernel, semantics of the reference's
  * `_binary_operation` (/root/reference/imops/src/_morphology.pyx:254-310):
  *
  *  - erosion: AND over footprint-covered cells, out-of-bounds reads `true`
  *    (border_value=True, pyx:313-319)
  *  - dilation: dual — footprint reflected, OR over covered cells,
  *    out-of-bounds reads `false` (pyx:322-329)
  *  - footprint origin per axis = fshape/2; dilation shifts the origin of
  *    even axes by -1 (pyx:62-64)
  *  - default footprint: connectivity-1 cross, `generate_binary_structure(ndim, 1)`
  *    (/root/reference/imops/morphology.py:48-49)
  */
object StencilKernel {

  def crossFootprint(rank: Int): (Array[Boolean], Array[Int]) = {
    val fshape = Array.fill(rank)(3)
    val size = NdTensor.numel(fshape)
    val fp = new Array[Boolean](size)
    val strides = NdTensor.strides(fshape)
    var flat = 0
    while (flat < size) {
      var manhattan = 0
      var d = 0
      while (d < rank) { manhattan += math.abs((flat / strides(d)) % 3 - 1); d += 1 }
      fp(flat) = manhattan <= 1
      flat += 1
    }
    (fp, fshape)
  }

  private def offsets(fp: Array[Boolean], fshape: Array[Int], origin: Array[Int]): Array[Array[Int]] = {
    val strides = NdTensor.strides(fshape)
    val rank = fshape.length
    val buf = Array.newBuilder[Array[Int]]
    var flat = 0
    while (flat < fp.length) {
      if (fp(flat)) {
        val off = new Array[Int](rank)
        var d = 0
        while (d < rank) { off(d) = (flat / strides(d)) % fshape(d) - origin(d); d += 1 }
        buf += off
      }
      flat += 1
    }
    buf.result()
  }

  /** Per-op footprint offsets (coordinate deltas from the op's origin) —
    * the JVM analog of the reference's precomputed offset table
    * (imops `src/_morphology.pyx:73-165`). */
  private def geometry(shape: Array[Int], fp: Array[Boolean], fshape: Array[Int],
                       isDilation: Boolean): Array[Array[Int]] = {
    require(fshape.length == shape.length, "footprint rank mismatch") // morphology.py:84-85
    require(shape.nonEmpty, "morphology needs rank >= 1")
    val (fpUsed, origin) =
      if (!isDilation) (fp, fshape.map(_ / 2))
      else {
        val reflected = fp.reverse // row-major reverse == reflect all axes ([::-1,::-1,::-1])
        val orig = fshape.map(s => if (s % 2 == 0) s / 2 - 1 else s / 2)
        (reflected, orig)
      }
    offsets(fpUsed, fshape, origin)
  }

  /** One shifted-line pass for both ops. The output starts at the border
    * value, which is the identity of the op (all true for erosion's AND, all
    * false for dilation's OR). Then, one last-axis line at a time, each
    * footprint offset ANDs or ORs the input line shifted by that offset into
    * the output, over the run whose neighbour lies inside the image. A
    * neighbour outside the image reads the border value and would leave the
    * output unchanged, so those lines and line ends are skipped: the pyx
    * border rule for any footprint, rank and origin. */
  private def shiftedLines(data: Array[Boolean], shape: Array[Int], offs: Array[Array[Int]],
                           isDilation: Boolean): Array[Boolean] = {
    checkShape(data, shape) // the run combiners skip bounds checks
    val out = new Array[Boolean](data.length)
    if (!isDilation) java.util.Arrays.fill(out, true)
    if (data.isEmpty) return out
    val rank = shape.length
    val n = shape(rank - 1)
    val strides = NdTensor.strides(shape)
    val flatOff = offs.map(o => o.indices.map(d => o(d) * strides(d)).sum) // flat delta per offset
    val nOff = offs.length
    val coord = new Array[Int](rank - 1) // coordinates of the current line on the outer axes
    var base = 0
    while (base < data.length) {
      var k = 0
      while (k < nOff) {
        val off = offs(k)
        var inside = true
        var d = 0
        while (inside && d < rank - 1) {
          val c = coord(d) + off(d)
          inside = c >= 0 && c < shape(d)
          d += 1
        }
        val o = off(rank - 1)
        val lo = math.max(0, -o)
        val hi = math.min(n, n - o)
        if (inside && lo < hi) {
          if (isDilation) orRun(out, base + lo, data, base + lo + flatOff(k), hi - lo)
          else andRun(out, base + lo, data, base + lo + flatOff(k), hi - lo)
        }
        k += 1
      }
      base += n
      nextLine(coord, shape)
    }
    out
  }

  /** `data` must hold exactly one cell per index of `shape`: the shifted
    * runs are bounded by `shape` alone, and `andRun`/`orRun` read and write
    * through unchecked word accesses. BigInt, so no product overflows. */
  private def checkShape(data: Array[Boolean], shape: Array[Int]): Unit =
    require(shape.forall(_ >= 0) && shape.map(BigInt(_)).product == data.length,
      s"morphology data/shape mismatch: ${data.length} cells for shape ${shape.mkString("x")}")

  // The run combiners work on 8 cells per step. HotSpot stores each
  // boolean[] element as one byte that is 0 or 1, and an AND or OR of two
  // such words keeps every byte 0 or 1, so a long-wide step is bit-equal to
  // eight boolean steps (Spark's UnsafeArrayData relies on the same layout).
  // Plain per-byte loops are not vectorized by C2 and ran at about a third
  // of this speed. The byte loop after the word loop covers the run's tail.

  private def andRun(out: Array[Boolean], o: Int, in: Array[Boolean], i: Int, len: Int): Unit = {
    val ob = Platform.BOOLEAN_ARRAY_OFFSET + o
    val ib = Platform.BOOLEAN_ARRAY_OFFSET + i
    var j = 0
    while (j <= len - 8) {
      Platform.putLong(out, ob + j, Platform.getLong(out, ob + j) & Platform.getLong(in, ib + j))
      j += 8
    }
    while (j < len) { out(o + j) &= in(i + j); j += 1 }
  }

  private def orRun(out: Array[Boolean], o: Int, in: Array[Boolean], i: Int, len: Int): Unit = {
    val ob = Platform.BOOLEAN_ARRAY_OFFSET + o
    val ib = Platform.BOOLEAN_ARRAY_OFFSET + i
    var j = 0
    while (j <= len - 8) {
      Platform.putLong(out, ob + j, Platform.getLong(out, ob + j) | Platform.getLong(in, ib + j))
      j += 8
    }
    while (j < len) { out(o + j) |= in(i + j); j += 1 }
  }

  def erode(data: Array[Boolean], shape: Array[Int],
            fp: Array[Boolean], fshape: Array[Int]): Array[Boolean] =
    shiftedLines(data, shape, geometry(shape, fp, fshape, isDilation = false), isDilation = false)

  def dilate(data: Array[Boolean], shape: Array[Int],
             fp: Array[Boolean], fshape: Array[Int]): Array[Boolean] =
    shiftedLines(data, shape, geometry(shape, fp, fshape, isDilation = true), isDilation = true)

  /** closing = dilation then erosion (/root/reference/imops/morphology.py:262-314) */
  def close(data: Array[Boolean], shape: Array[Int],
            fp: Array[Boolean], fshape: Array[Int]): Array[Boolean] =
    erode(dilate(data, shape, fp, fshape), shape, fp, fshape)

  /** opening = erosion then dilation (/root/reference/imops/morphology.py:317-369) */
  def open(data: Array[Boolean], shape: Array[Int],
           fp: Array[Boolean], fshape: Array[Int]): Array[Boolean] =
    dilate(erode(data, shape, fp, fshape), shape, fp, fshape)

  def erodeDefault(data: Array[Boolean], shape: Array[Int]): Array[Boolean] = {
    val (fp, fs) = crossFootprint(shape.length); erode(data, shape, fp, fs)
  }
  def dilateDefault(data: Array[Boolean], shape: Array[Int]): Array[Boolean] = {
    val (fp, fs) = crossFootprint(shape.length); dilate(data, shape, fp, fs)
  }

  /** `boxed` rewrite: crop to the mask's bounding box + footprint margin, run
    * the op on the crop, paste back (/root/reference/imops/morphology.py:117-151).
    * Valid only when the dilated support fits strictly inside the image.
    *
    * The crop is exact when the footprint holds its centre: erosion then
    * reads each cell itself, so every cell outside the support erodes to
    * false, as the paste-back assumes. Without the centre, erosion turns a
    * cell outside the support true when every cell its footprint reads is
    * true or outside the image, and the crop's edge would read true where
    * the image holds false; such a footprint runs `op` on the whole image. */
  def boxed(data: Array[Boolean], shape: Array[Int],
            fp: Array[Boolean], fshape: Array[Int],
            op: (Array[Boolean], Array[Int], Array[Boolean], Array[Int]) => Array[Boolean]): Array[Boolean] = {
    checkShape(data, shape)
    val centre = fshape.indices.foldLeft(0)((f, d) => f * fshape(d) + fshape(d) / 2)
    if (centre >= fp.length || !fp(centre)) return op(data, shape, fp, fshape)
    if (!data.exists(identity)) return new Array[Boolean](data.length)
    val margin = fshape.map(_ / 2)
    val box = Box.fromMask(data, shape).addMargin(margin.toSeq)
    val full = Box.fromShape(shape.toSeq)
    require(full.contains(box), "boxed morphology: support touches the border") // morphology.py:134-135
    val bShape = box.shape.toArray
    val crop = new Array[Boolean](NdTensor.numel(bShape))
    copyRegion(data, shape, box.start.toArray, crop, bShape, isRead = true)
    val res = op(crop, bShape, fp, fshape)
    val out = new Array[Boolean](data.length)
    copyRegion(out, shape, box.start.toArray, res, bShape, isRead = false)
    out
  }

  /** Copies the box of `big` at `start` with shape `smallShape` to or from
    * `small`, one System.arraycopy per last-axis row. */
  private def copyRegion(big: Array[Boolean], bigShape: Array[Int], start: Array[Int],
                         small: Array[Boolean], smallShape: Array[Int], isRead: Boolean): Unit = {
    val rank = bigShape.length
    val bigStrides = NdTensor.strides(bigShape)
    val n = smallShape(rank - 1)
    val coord = new Array[Int](rank - 1)
    var flat = 0
    while (flat < small.length) {
      var bFlat = start(rank - 1)
      var d = 0
      while (d < rank - 1) { bFlat += (start(d) + coord(d)) * bigStrides(d); d += 1 }
      if (isRead) System.arraycopy(big, bFlat, small, flat, n)
      else System.arraycopy(small, flat, big, bFlat, n)
      flat += n
      nextLine(coord, smallShape)
    }
  }

  /** Advances `coord`, the outer-axis coordinates of a last-axis line, to
    * the next line in row-major order. */
  private def nextLine(coord: Array[Int], shape: Array[Int]): Unit = {
    var d = coord.length - 1
    while (d >= 0 && { coord(d) += 1; coord(d) == shape(d) }) { coord(d) = 0; d -= 1 }
  }
}
