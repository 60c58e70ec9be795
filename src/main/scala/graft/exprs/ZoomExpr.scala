package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** n-d zoom as a native Expression over [[graft.kernels.ZoomKernel]]:
  * bulk `toDoubleArray`/`toIntArray` reads feeding the shared kernel from
  * generated code, returning `struct<_1: array<double>, _2: array<int>>`
  * (data, shape) like the UDF form.
  *
  * Same motivation as [[Interp1dExpr]]: the Scala-UDF boundary's
  * per-element converter boxing dominates the kernel's table-lookup loop
  * on large tensors (~250 ns/cell through the UDF vs ~10 ns of kernel
  * work); the expression leaves only two bulk copies per row. Semantics
  * are byte-identical — one kernel, two call forms
  * (/root/reference/imops/src/_zoom.pyx:372-399).
  */
case class ZoomExpr(data: Expression, shape: Expression, scale: Expression,
                    order: Expression, cval: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(data, shape, scale, order, cval)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = StructType(Seq(
    StructField("_1", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("_2", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    def elem(e: Expression) = e.dataType match {
      case ArrayType(t, _) => Some(t)
      case _ => None
    }
    if (!elem(data).contains(DoubleType) || !elem(scale).contains(DoubleType))
      TypeCheckResult.TypeCheckFailure(
        s"zoom data/scale must be array<double>, got ${data.dataType.sql}/${scale.dataType.sql}")
    else if (!elem(shape).contains(IntegerType))
      TypeCheckResult.TypeCheckFailure(s"zoom shape must be array<int>, got ${shape.dataType.sql}")
    else if (order.dataType != IntegerType || cval.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"zoom order/cval must be int/double, got ${order.dataType.sql}/${cval.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  // fail fast on null elements when the static schema allows them (ADVICE
  // r3); dense schemas compile to the unguarded bulk read
  private lazy val dataElemNullable = ExprGuards.elemNullable(data.dataType)
  private lazy val shapeElemNullable = ExprGuards.elemNullable(shape.dataType)
  private lazy val scaleElemNullable = ExprGuards.elemNullable(scale.dataType)

  override def eval(input: InternalRow): Any = {
    val d = data.eval(input); val sh = shape.eval(input); val sc = scale.eval(input)
    val o = order.eval(input); val c = cval.eval(input)
    if (d == null || sh == null || sc == null || o == null || c == null) null
    else ZoomExpr.call(
      ExprGuards.evalGuard(d.asInstanceOf[ArrayData], dataElemNullable, "zoom data"),
      ExprGuards.evalGuard(sh.asInstanceOf[ArrayData], shapeElemNullable, "zoom shape"),
      ExprGuards.evalGuard(sc.asInstanceOf[ArrayData], scaleElemNullable, "zoom scale"),
      o.asInstanceOf[Int], c.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    val call = s"""graft.exprs.ZoomExpr.call(
            ${ExprGuards.genGuard(gs(0).value.toString, dataElemNullable, "zoom data")},
            ${ExprGuards.genGuard(gs(1).value.toString, shapeElemNullable, "zoom shape")},
            ${ExprGuards.genGuard(gs(2).value.toString, scaleElemNullable, "zoom scale")},
            ${gs(3).value}, ${gs(4).value})"""
    ExprGuards.genCall(ev, gs, nullable, "InternalRow", call)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(data = c(0), shape = c(1), scale = c(2), order = c(3), cval = c(4))
}

object ZoomExpr {
  /** Plain-JVM bridge for generated code: bulk-copy in, run the kernel,
    * wrap the (data, shape) pair as an InternalRow. */
  def call(data: ArrayData, shape: ArrayData, scale: ArrayData,
           order: Int, cval: Double): InternalRow = {
    val (d, s) = graft.kernels.ZoomKernel.zoom(
      data.toDoubleArray(), shape.toIntArray(), scale.toDoubleArray(), order, cval)
    // UnsafeArrayData.fromPrimitiveArray = one bulk copy; GenericArrayData
    // would BOX every output cell (262k per row at the bench shape)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(d), UnsafeArrayData.fromPrimitiveArray(s)))
  }

  /** Column form of [[ZoomExpr]]: struct(_1 = data, _2 = shape). */
  def zoomCol(data: Column, shape: Column, scale: Column,
              order: Column, cval: Column): Column =
    GraftColumnBridge.column(ZoomExpr(
      GraftColumnBridge.expression(data), GraftColumnBridge.expression(shape),
      GraftColumnBridge.expression(scale), GraftColumnBridge.expression(order),
      GraftColumnBridge.expression(cval)))
}
