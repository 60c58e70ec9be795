package graft.core

/** Dense n-d tensor as a Spark row: flat row-major `data` + explicit `shape`.
  *
  * The reference engine's single data type is a dense C-contiguous ndarray
  * (ndim <= 4) — see /root/reference/imops/zoom.py:40 (ndim cap) and
  * /root/reference/imops/utils.py:95-107 (contiguity handling). In Spark the
  * batch axis is the DataFrame row axis (/root/reference/imops/radon.py:213-216
  * reshapes leading axes into one batch axis), so one row = one tensor.
  *
  * `dtype` preserves the logical element type (the reference supports fp16 /
  * unsigned ints that the JVM lacks — /root/reference/imops/numeric.py:41-42);
  * data is physically Double, cast back on sink.
  */
final case class NdTensor(id: Long, shape: Seq[Int], dtype: String, data: Seq[Double]) {
  def rank: Int = shape.length
  def size: Long = shape.foldLeft(1L)(_ * _.toLong)
}

object NdTensor {
  val MaxRank = 4

  /** Row-major strides for a shape. */
  def strides(shape: Array[Int]): Array[Int] = {
    val n = shape.length
    val s = new Array[Int](n)
    var acc = 1
    var i = n - 1
    while (i >= 0) { s(i) = acc; acc *= shape(i); i -= 1 }
    s
  }

  def numel(shape: Array[Int]): Int = {
    var acc = 1; var i = 0
    while (i < shape.length) { acc *= shape(i); i += 1 }
    acc
  }

  /** Prepend dummy axes of size 1 until `rank` — the reference's `n_dummy`
    * promotion (/root/reference/imops/zoom.py:264-268,
    * /root/reference/imops/morphology.py:99-110). */
  def promoteShape(shape: Array[Int], rank: Int): Array[Int] = {
    require(shape.length <= rank, s"rank ${shape.length} exceeds $rank")
    Array.fill(rank - shape.length)(1) ++ shape
  }

  /** Broadcast a scalar-or-sequence parameter against an axis list — the
    * reference's axis mini-language (`broadcast_axis`/`fill_by_indices`,
    * /root/reference/imops/utils.py:117-154): `param` given for `axis`
    * entries is expanded to a full per-axis vector with `default` elsewhere. */
  def fillByIndices(ndim: Int, param: Seq[Double], axis: Seq[Int], default: Double): Array[Double] = {
    val ax = if (axis.isEmpty) (0 until ndim) else axis.map(a => if (a < 0) a + ndim else a)
    require(param.length == ax.length, s"param length ${param.length} != axis length ${ax.length}")
    val out = Array.fill(ndim)(default)
    ax.zip(param).foreach { case (a, v) =>
      require(a >= 0 && a < ndim, s"axis $a out of range for ndim $ndim")
      out(a) = v
    }
    out
  }

  def broadcastParam(ndim: Int, param: Either[Double, Seq[Double]], axis: Seq[Int], default: Double): Array[Double] =
    param match {
      case Left(scalar) =>
        val ax = if (axis.isEmpty) (0 until ndim) else axis
        fillByIndices(ndim, Seq.fill(ax.length)(scalar), axis, default)
      case Right(seq) => fillByIndices(ndim, seq, axis, default)
    }

  /** Cast a physically-Double value back to its logical `dtype` on sink —
    * the other half of the dtype-tag scheme (§1.4 of SURVEY): Spark has no
    * fp16/unsigned primitives, so the tag preserves the logical type
    * (mirroring the reference's fp16-as-uint16 view, numeric.py:182-187)
    * and this applies the type's rounding/clamping semantics. */
  def castToDtype(v: Double, dtype: String): Double = dtype match {
    case "bool" => if (v != 0.0) 1.0 else 0.0
    case "int8" => v.toLong.max(Byte.MinValue).min(Byte.MaxValue).toDouble
    case "int16" => v.toLong.max(Short.MinValue).min(Short.MaxValue).toDouble
    case "int32" => v.toLong.max(Int.MinValue).min(Int.MaxValue).toDouble
    case "int64" => v.toLong.toDouble
    case "uint8" => v.toLong.max(0L).min(255L).toDouble
    case "uint16" => v.toLong.max(0L).min(65535L).toDouble
    case "uint32" => v.toLong.max(0L).min(4294967295L).toDouble
    case "float16" => halfRoundTrip(v)
    case "float32" => v.toFloat.toDouble
    case "float64" => v
    case other => throw new IllegalArgumentException(s"unknown dtype tag '$other'")
  }

  /** Round-trip through IEEE half precision (the reference's fp16 support,
    * numeric.py:41-42): round-to-nearest-even into a 10-bit significand,
    * overflow to infinity, subnormals preserved. */
  def halfRoundTrip(v: Double): Double = {
    // convert straight from double (a float32 intermediate would double-
    // round at the 65520 overflow boundary — numpy converts directly too)
    val bits = java.lang.Double.doubleToLongBits(v)
    val sign = ((bits >>> 48) & 0x8000L).toInt
    val eD = ((bits >>> 52) & 0x7ff).toInt
    val frac = bits & 0xfffffffffffffL
    val half: Int =
      if (eD == 0x7ff) sign | 0x7c00 | (if (frac != 0) 0x200 else 0) // inf/nan
      else {
        val e = eD - 1023
        if (e >= -14) {
          val eh = e + 15
          if (eh >= 31) sign | 0x7c00 // overflow -> inf
          else {
            val m = (frac >>> 42).toInt
            val rem = frac & ((1L << 42) - 1)
            val halfPoint = 1L << 41
            var r = (eh << 10) | m
            // round-to-nearest-even; a carry out of 0x7bff lands on 0x7c00
            // (inf), which is the correct boundary behavior
            if (rem > halfPoint || (rem == halfPoint && (m & 1) == 1)) r += 1
            sign | r
          }
        } else if (eD == 0) sign // double subnormal ~ 1e-308 -> signed zero
        else { // subnormal half: mantissa_h = m53 >> (1051 - eD)
          val totalShift = 1051 - eD
          if (totalShift > 53) sign
          else {
            val m53 = frac | (1L << 52)
            val shifted = (m53 >>> totalShift).toInt
            val rem = m53 & ((1L << totalShift) - 1)
            val halfPoint = 1L << (totalShift - 1)
            val r = if (rem > halfPoint || (rem == halfPoint && (shifted & 1) == 1)) shifted + 1
                    else shifted
            sign | r
          }
        }
      }
    // expand back to float
    val s = (half & 0x8000) << 16
    val eh = (half >>> 10) & 0x1f
    val mh = half & 0x3ff
    val back =
      if (eh == 0x1f) s | 0x7f800000 | (mh << 13)
      else if (eh != 0) s | ((eh + 112) << 23) | (mh << 13)
      else if (mh != 0) {
        var e2 = 0
        var m2 = mh
        while ((m2 & 0x400) == 0) { m2 <<= 1; e2 -= 1 }
        s | ((113 + e2) << 23) | ((m2 & 0x3ff) << 13)
      } else s
    java.lang.Float.intBitsToFloat(back).toDouble
  }
}
