package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.kernels.StencilKernel

/** Default-footprint binary morphology as a native Expression over
  * [[graft.kernels.StencilKernel]]: bulk `toBooleanArray`/`toIntArray`
  * reads in, one `UnsafeArrayData.fromPrimitiveArray` out — the same
  * boxing-elimination pattern as [[ZoomExpr]]/[[Interp1dExpr]], applied to
  * the erosion/dilation hot path
  * (/root/reference/imops/src/_morphology.pyx:313-329). `morphUdf` remains
  * the arbitrary-footprint entry point.
  *
  * `dilation` picks the first pass. With `thenDual` the dual pass follows
  * in the same kernel call: dilation first is closing, erosion first is
  * opening (imops/morphology.py:262-369). It is a plan-time constant, so it
  * rides on the case class; `graft_morph(mask, shape, dilation)` is the
  * single-pass form.
  */
case class MorphExpr(data: Expression, shape: Expression, dilation: Expression,
                     thenDual: Boolean = false)
  extends Expression {

  override def children: Seq[Expression] = Seq(data, shape, dilation)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(BooleanType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = data.dataType == ArrayType(BooleanType, containsNull = false) ||
      data.dataType == ArrayType(BooleanType, containsNull = true)
    if (!ok)
      TypeCheckResult.TypeCheckFailure(s"morph data must be array<boolean>, got ${data.dataType.sql}")
    else if (shape.dataType != ArrayType(IntegerType, containsNull = false) &&
             shape.dataType != ArrayType(IntegerType, containsNull = true))
      TypeCheckResult.TypeCheckFailure(s"morph shape must be array<int>, got ${shape.dataType.sql}")
    else if (dilation.dataType != BooleanType)
      TypeCheckResult.TypeCheckFailure(s"morph dilation flag must be boolean, got ${dilation.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  // null-element policy is decided by the STATIC type, not the physical
  // representation: nullable element schemas get an explicit fail-fast scan
  // (ADVICE r3), dense schemas compile to the unguarded bulk read
  private lazy val dataElemNullable = ExprGuards.elemNullable(data.dataType)
  private lazy val shapeElemNullable = ExprGuards.elemNullable(shape.dataType)

  override def eval(input: InternalRow): Any = {
    val d = data.eval(input); val sh = shape.eval(input); val dil = dilation.eval(input)
    if (d == null || sh == null || dil == null) null
    else MorphExpr.call(
      ExprGuards.evalGuard(d.asInstanceOf[ArrayData], dataElemNullable, "morph data"),
      ExprGuards.evalGuard(sh.asInstanceOf[ArrayData], shapeElemNullable, "morph shape"),
      dil.asInstanceOf[Boolean], thenDual)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    ExprGuards.genCall(ev, gs, nullable, "org.apache.spark.sql.catalyst.util.ArrayData",
      s"""graft.exprs.MorphExpr.call(
            ${ExprGuards.genGuard(gs(0).value.toString, dataElemNullable, "morph data")},
            ${ExprGuards.genGuard(gs(1).value.toString, shapeElemNullable, "morph shape")},
            ${gs(2).value}, $thenDual)""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(data = c(0), shape = c(1), dilation = c(2))
}

object MorphExpr {
  /** Plain-JVM bridge for generated code: one kernel call per row. */
  def call(data: ArrayData, shape: ArrayData, dilation: Boolean, thenDual: Boolean): ArrayData = {
    val d = data.toBooleanArray()
    val sh = shape.toIntArray()
    val (fp, fs) = StencilKernel.crossFootprint(sh.length)
    val out =
      if (thenDual) {
        if (dilation) StencilKernel.close(d, sh, fp, fs) else StencilKernel.open(d, sh, fp, fs)
      } else {
        if (dilation) StencilKernel.dilate(d, sh, fp, fs) else StencilKernel.erode(d, sh, fp, fs)
      }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def column(data: Column, shape: Column, dilation: Boolean, thenDual: Boolean): Column =
    GraftColumnBridge.column(MorphExpr(GraftColumnBridge.expression(data),
      GraftColumnBridge.expression(shape),
      GraftColumnBridge.expression(org.apache.spark.sql.functions.lit(dilation)), thenDual))

  def erode(data: Column, shape: Column): Column = column(data, shape, dilation = false, thenDual = false)
  def dilate(data: Column, shape: Column): Column = column(data, shape, dilation = true, thenDual = false)
  /** closing = dilation then erosion, one kernel call per row. */
  def close(data: Column, shape: Column): Column = column(data, shape, dilation = true, thenDual = true)
  /** opening = erosion then dilation, one kernel call per row. */
  def open(data: Column, shape: Column): Column = column(data, shape, dilation = false, thenDual = true)
}
