package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Public Column-returning API over tensor rows.
  *
  * Pad/crop/slice and full compose `org.apache.spark.sql.functions`.
  * `fillArray` and `isinArray` are `transform` lambdas, which Spark 4.1
  * evaluates interpreted (`CodegenFallback`, one boxed value per cell);
  * they stay there because no benchmarked path runs them. Pointwise add is
  * the codegen'd [[graft.exprs.PointwiseAddExpr]].
  *
  * The other kernels (zoom, interp1d, morphology, label, EDT, hull,
  * radon), the analog of the reference's Cython backend
  * (imops/backend.py:29-64), are declared once in
  * [[graft.exprs.Kernels]]; each runs as one codegen'd
  * [[graft.exprs.KernelCall]] per row, so the row axis is the parallelism.
  */
object TensorFunctions {

  // ---------- pointwise numerics (imops/numeric.py) ----------

  /** pointwise_add with a scalar summand (numeric.py:99-192). */
  def pointwiseAdd(data: Column, summand: Double): Column =
    graft.exprs.PointwiseAddExpr.add(data, lit(summand))

  /** pointwise_add with a same-shape array (strict same-length in the
    * reference, numeric.py:150-151; unequal lengths give null past the
    * shorter end, as `zip_with` does). */
  def pointwiseAddArray(a: Column, b: Column): Column =
    graft.exprs.PointwiseAddExpr.add(a, b)

  /** fill_ — immutable analog: replace every element (numeric.py:195-253). */
  def fillArray(data: Column, value: Double): Column =
    transform(data, _ => lit(value))

  /** full — allocate a fresh array (numeric.py:256-300). */
  def fullArray(size: Column, value: Double): Column =
    array_repeat(lit(value), size.cast("int"))

  /** Sink-side dtype-tag cast (SURVEY §1.4): apply the logical dtype's
    * truncation/saturation (unsigned/int tags) or quantization (fp16) to a
    * physically-Double scalar column — the reference's fp16/uint support
    * (/root/reference/imops/numeric.py:41-42, 182-187) on the JVM. */
  private val castDtypeUdf =
    udf((v: Double, dtype: String) => graft.core.NdTensor.castToDtype(v, dtype))
  def castDtype(v: Column, dtype: String): Column = castDtypeUdf(v, lit(dtype))

  /** isin mask over an array column (/root/reference/imops/utils.py:213-251). */
  def isinArray(data: Column, testElements: Seq[Double]): Column =
    transform(data, x => x.isin(testElements: _*))

  // ---------- builtin path: pad / crop (/root/reference/imops/pad.py, crop.py) ----------

  /** pad a 1-D array column with constant values (pad.py:10-73). */
  def padArray(data: Column, before: Column, after: Column, value: Double): Column =
    padArrayWith(data, before, after, lit(value))

  /** pad with a per-row COMPUTED value — the reference's callable
    * `padding_values` (pad.py:33-35, 63-64: e.g. `padding_values=numpy.min`
    * pads with the array's own minimum). `value` is any scalar Column over
    * the row, evaluated once (array_repeat is not a lambda HOF). */
  def padArrayWith(data: Column, before: Column, after: Column, value: Column): Column =
    concat(array_repeat(value, before.cast("int")), data,
           array_repeat(value, after.cast("int")))

  /** pad_to_shape with left/right ratio split (pad.py:76-132):
    * before = floor(delta * ratio), after = delta - before. */
  def padToShape(data: Column, target: Int, ratio: Double, value: Double): Column = {
    val delta = lit(target) - size(data)
    val before = floor(delta * lit(ratio)).cast("int")
    padArray(data, before, delta - before, value)
  }

  /** pad_to_divisible: append so that size % divisor == remainder (pad.py:135-192). */
  def padToDivisible(data: Column, divisor: Int, value: Double): Column = {
    val after = (lit(divisor) - size(data) % lit(divisor)) % lit(divisor)
    padArray(data, lit(0), after, value)
  }

  /** crop_to_shape, centered by ratio (crop.py:11-58): start = floor((old-new)*ratio). */
  def cropToShape(data: Column, target: Int, ratio: Double): Column = {
    val start = floor((size(data) - lit(target)) * lit(ratio)).cast("int")
    slice(data, start + 1, lit(target))
  }

  /** crop_to_box on a 1-D array (crop.py:61-124), in-bounds variant. */
  def cropToBox(data: Column, start: Column, stop: Column): Column =
    slice(data, start.cast("int") + 1, (stop - start).cast("int"))

  /** restore_crop: re-embed at `start` within an axis of length `total`,
    * filling with `value` (pad.py:195-253). */
  def restoreCrop(data: Column, start: Column, total: Column, value: Double): Column =
    padArray(data, start, total - start - size(data), value)
}
