package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import graft.kernels._

/** Every tensor kernel that SQL reaches, declared once as a [[KernelFn]]:
  * `Kernels.zoom(data, shape, scale, order, cval)` is a Column over one
  * [[KernelCall]]. The analog of the reference's single backend dispatch
  * layer (imops/backend.py:29-64): the kernels in
  * `graft.kernels` hold the semantics, this object only names their
  * arguments and result types.
  */
object Kernels {
  import ArgKind._

  private implicit final class Values(private val v: Array[Any]) extends AnyVal {
    def at[T](i: Int): T = v(i).asInstanceOf[T]
  }

  private def kernel(name: String, out: DataType, args: (String, ArgKind)*)(
      run: Array[Any] => Any): KernelFn = new KernelFn(name, args, out, run)
  private def arrayOf(t: DataType) = ArrayType(t, containsNull = false)
  private def tuple(ts: DataType*) = StructType(ts.zipWithIndex.map { case (t, i) =>
    StructField(s"_${i + 1}", t, nullable = false)
  })
  private val zoomed = tuple(arrayOf(DoubleType), arrayOf(IntegerType))

  /** n-d zoom (imops/src/_zoom.pyx:372-399) as
    * struct(_1 data, _2 shape). */
  val zoom: KernelFn = kernel("graft_zoom", zoomed,
    "data" -> doubles, "shape" -> ints, "scale" -> doubles, "order" -> int, "cval" -> double) { a =>
    ZoomKernel.zoom(a.at(0), a.at(1), a.at(2), a.at(3), a.at(4))
  }

  /** zoom_to_shape (imops/zoom.py:129-188), cval 0. */
  val zoomToShape: KernelFn = kernel("graft_zoom_to_shape", zoomed,
    "data" -> doubles, "shape" -> ints, "target" -> ints, "order" -> int) { a =>
    ZoomKernel.zoomToShape(a.at(0), a.at(1), a.at(2), a.at(3), 0.0)
  }

  /** Whole-array linear interpolation (imops/src/_zoom.pyx:30-120). */
  val interp1d: KernelFn = kernel("graft_interp1d", arrayOf(DoubleType),
    "xs" -> doubles, "ys" -> doubles, "xq" -> doubles, "extrapolate" -> boolean,
    "fill" -> double) { a =>
    Interp1dKernel.interp(a.at(0), a.at(1), a.at(2), a.at(3), a.at(4))
  }

  /** Default-cross binary morphology
    * (imops/src/_morphology.pyx:313-329). `dilation` picks
    * the first pass; with `thenDual` the dual pass follows in the same call:
    * dilation first is closing, erosion first is opening
    * (imops/morphology.py:262-369). */
  val morph: KernelFn = kernel("graft_morph", arrayOf(BooleanType),
    "data" -> booleans, "shape" -> ints, "dilation" -> boolean, "thenDual" -> boolean) { a =>
    val (data, shape) = (a.at[Array[Boolean]](0), a.at[Array[Int]](1))
    val (fp, fs) = StencilKernel.crossFootprint(shape.length)
    val op = (a.at[Boolean](2), a.at[Boolean](3)) match {
      case (true, true) => StencilKernel.close _
      case (false, true) => StencilKernel.open _
      case (true, false) => StencilKernel.dilate _
      case (false, false) => StencilKernel.erode _
    }
    op(data, shape, fp, fs)
  }

  /** Morphology with an explicit footprint, even shapes included (origin
    * shift rule, _morphology.pyx:62-64). */
  val morphFootprint: KernelFn = kernel("graft_morph_footprint", arrayOf(BooleanType),
    "data" -> booleans, "shape" -> ints, "footprint" -> booleans, "footprintShape" -> ints,
    "dilation" -> boolean) { a =>
    if (a.at(4)) StencilKernel.dilate(a.at(0), a.at(1), a.at(2), a.at(3))
    else StencilKernel.erode(a.at(0), a.at(1), a.at(2), a.at(3))
  }

  /** Boxed default-cross morphology: crop to the support's bounding box
    * plus margin, run the op on the crop, paste back
    * (imops/morphology.py:117-151). */
  val boxedMorph: KernelFn = kernel("graft_boxed_morph", arrayOf(BooleanType),
    "data" -> booleans, "shape" -> ints, "dilation" -> boolean) { a =>
    val shape = a.at[Array[Int]](1)
    val (fp, fs) = StencilKernel.crossFootprint(shape.length)
    StencilKernel.boxed(a.at(0), shape, fp, fs,
      if (a.at(2)) StencilKernel.dilate else StencilKernel.erode)
  }

  /** Connected components as struct(_1 labels, _2 num, _3 sizes). */
  val label: KernelFn = kernel("graft_label",
    tuple(arrayOf(LongType), IntegerType, arrayOf(LongType)),
    "data" -> doubles, "shape" -> ints, "background" -> double, "connectivity" -> int) { a =>
    LabelKernel.label(a.at(0), a.at(1), a.at(2), a.at(3))
  }

  val edt: KernelFn = kernel("graft_edt", arrayOf(DoubleType),
    "mask" -> booleans, "shape" -> ints, "sampling" -> doubles) { a =>
    EdtKernel.edt(a.at[Array[Boolean]](0), a.at[Array[Int]](1), a.at[Array[Double]](2))
  }

  /** EDT feature transform (`return_indices`): per cell, the flat index of
    * the nearest zero cell; -1 when the mask has no zero. */
  val edtFeature: KernelFn = kernel("graft_edt_feature", arrayOf(IntegerType),
    "mask" -> booleans, "shape" -> ints, "sampling" -> doubles) { a =>
    EdtKernel.edtFeature(a.at(0), a.at(1), a.at(2))._2
  }

  /** convex_hull_image of one 2-D mask (morphology.py:524-591). */
  val hull: KernelFn = kernel("graft_hull", arrayOf(BooleanType),
    "mask" -> booleans, "shape" -> ints) { a =>
    HullKernel.convexHullImage(a.at(0), a.at(1))
  }

  /** Exact 1-D squared distance transform of one line, cells `w` apart. */
  val dt1d: KernelFn = kernel("graft_dt1d", arrayOf(DoubleType),
    "line" -> doubles, "sampling" -> double) { a =>
    EdtKernel.dt1d(a.at(0), a.at(1))
  }

  /** Forward radon of one slice (imops/src/_radon.pyx:28-91). */
  val radon: KernelFn = kernel("graft_radon", arrayOf(DoubleType),
    "data" -> doubles, "size" -> int, "theta" -> doubles) { a =>
    RadonKernel.radonSlice(a.at(0), a.at(1), a.at(2))
  }

  /** `radon(..., return_fill=True)` (imops/radon.py:16-102):
    * struct(_1 sinogram, _2 outside-circle fill) from one validation pass. */
  val radonWithFill: KernelFn = kernel("graft_radon_with_fill",
    tuple(arrayOf(DoubleType), DoubleType),
    "data" -> doubles, "size" -> int, "theta" -> doubles) { a =>
    RadonKernel.radonSliceWithFill(a.at(0), a.at(1), a.at(2))
  }

  /** Filtered backprojection (imops/src/_backprojection.pyx:22-79)
    * with the smooth/sharpen filter `ramp*(1 + a*ramp^b)`
    * (imops/radon.py:235-237); a = 0 is the plain ramp. */
  val inverseRadon: KernelFn = kernel("graft_iradon", arrayOf(DoubleType),
    "sinogram" -> doubles, "size" -> int, "theta" -> doubles, "fill" -> double,
    "a" -> double, "b" -> double) { a =>
    RadonKernel.inverseRadonSlice(a.at(0), a.at(1), a.at(2), a.at(3), a.at(4), a.at(5))
  }

  /** Every k-th fixed-size frame of a binary payload
    * ([[graft.multimodal.Multimodal.frames]]). */
  val frameSample: KernelFn = kernel("graft_frame_sample", arrayOf(BinaryType),
    "payload" -> binary, "frameBytes" -> int, "everyK" -> int) { a =>
    graft.multimodal.Multimodal.frames(a.at(0), a.at(1), a.at(2))
  }
}

/** The whole-array interp1d Column under the name external callers use. */
object Interp1dExpr {
  def interp1dArr(xs: Column, ys: Column, xq: Column, extrapolate: Column,
                  fillValue: Column): Column =
    Kernels.interp1d(xs, ys, xq, extrapolate, fillValue)
}
