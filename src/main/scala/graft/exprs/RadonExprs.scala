package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Forward radon as a native Expression over
  * [[graft.kernels.RadonKernel.radonSlice]] — the bulk-array bridge
  * pattern of [[ZoomExpr]] applied to the tomography path
  * (/root/reference/imops/src/_radon.pyx:28-91). */
case class RadonExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != ArrayType(DoubleType, false) && first.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"radon data must be array<double>, got ${first.dataType.sql}")
    else if (second.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"radon size must be int, got ${second.dataType.sql}")
    else if (third.dataType != ArrayType(DoubleType, false) && third.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"radon theta must be array<double>, got ${third.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // fail fast on null elements when the static schema allows them (ADVICE
  // r3); dense schemas compile to the unguarded bulk read
  private lazy val dataElemNullable = ExprGuards.elemNullable(first.dataType)
  private lazy val thetaElemNullable = ExprGuards.elemNullable(third.dataType)

  override protected def nullSafeEval(d: Any, n: Any, t: Any): Any =
    RadonExpr.call(
      ExprGuards.evalGuard(d.asInstanceOf[ArrayData], dataElemNullable, "radon data"),
      n.asInstanceOf[Int],
      ExprGuards.evalGuard(t.asInstanceOf[ArrayData], thetaElemNullable, "radon theta"))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, n, t) =>
      s"""${ev.value} = graft.exprs.RadonExpr.call(
         |${ExprGuards.genGuard(d, dataElemNullable, "radon data")}, $n,
         |${ExprGuards.genGuard(t, thetaElemNullable, "radon theta")});""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

object RadonExpr {
  def call(data: ArrayData, size: Int, theta: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(graft.kernels.RadonKernel.radonSlice(
      data.toDoubleArray(), size, theta.toDoubleArray()))

  def radon(data: Column, size: Column, theta: Column): Column =
    GraftColumnBridge.column(RadonExpr(GraftColumnBridge.expression(data),
      GraftColumnBridge.expression(size), GraftColumnBridge.expression(theta)))

  def radonWithFill(data: Column, size: Column, theta: Column): Column =
    GraftColumnBridge.column(RadonWithFillExpr(GraftColumnBridge.expression(data),
      GraftColumnBridge.expression(size), GraftColumnBridge.expression(theta)))
}

/** `radon(..., return_fill=True)` as a native Expression
  * (/root/reference/imops/radon.py:16-102): returns
  * `struct<_1: array<double>, _2: double>` = (sinogram, outside-circle
  * fill) from ONE validation pass — the [[ZoomExpr]] struct-return
  * pattern on the [[RadonExpr]] bridge. */
case class RadonWithFillExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("_1", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("_2", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != ArrayType(DoubleType, false) && first.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"radon data must be array<double>, got ${first.dataType.sql}")
    else if (second.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"radon size must be int, got ${second.dataType.sql}")
    else if (third.dataType != ArrayType(DoubleType, false) && third.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"radon theta must be array<double>, got ${third.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val dataElemNullable = ExprGuards.elemNullable(first.dataType)
  private lazy val thetaElemNullable = ExprGuards.elemNullable(third.dataType)

  override protected def nullSafeEval(d: Any, n: Any, t: Any): Any =
    RadonWithFillExpr.call(
      ExprGuards.evalGuard(d.asInstanceOf[ArrayData], dataElemNullable, "radon data"),
      n.asInstanceOf[Int],
      ExprGuards.evalGuard(t.asInstanceOf[ArrayData], thetaElemNullable, "radon theta"))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, n, t) =>
      s"""${ev.value} = graft.exprs.RadonWithFillExpr.call(
         |${ExprGuards.genGuard(d, dataElemNullable, "radon data")}, $n,
         |${ExprGuards.genGuard(t, thetaElemNullable, "radon theta")});""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

object RadonWithFillExpr {
  def call(data: ArrayData, size: Int, theta: ArrayData): InternalRow = {
    val (sino, fill) = graft.kernels.RadonKernel.radonSliceWithFill(
      data.toDoubleArray(), size, theta.toDoubleArray())
    new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(sino), fill))
  }
}

/** Filtered backprojection as a native Expression over
  * [[graft.kernels.RadonKernel.inverseRadonSlice]]
  * (/root/reference/imops/src/_backprojection.pyx:22-79). `a`/`b` select
  * the smooth/sharpen filter family `ramp*(1 + a*ramp^b)`
  * (/root/reference/imops/radon.py:235-237); they are plan-time constants
  * (the reference takes them as scalar call arguments), so they ride on
  * the case class rather than as child expressions. */
case class InverseRadonExpr(sino: Expression, size: Expression,
                            theta: Expression, fill: Expression,
                            a: Double = 0.0, b: Double = 1.0)
  extends Expression {

  override def children: Seq[Expression] = Seq(sino, size, theta, fill)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (sino.dataType != ArrayType(DoubleType, false) && sino.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"iradon sinogram must be array<double>, got ${sino.dataType.sql}")
    else if (size.dataType != IntegerType || fill.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"iradon size/fill must be int/double, got ${size.dataType.sql}/${fill.dataType.sql}")
    else if (theta.dataType != ArrayType(DoubleType, false) && theta.dataType != ArrayType(DoubleType, true))
      TypeCheckResult.TypeCheckFailure(s"iradon theta must be array<double>, got ${theta.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // fail fast on null elements when the static schema allows them (ADVICE
  // r3); dense schemas compile to the unguarded bulk read
  private lazy val sinoElemNullable = ExprGuards.elemNullable(sino.dataType)
  private lazy val thetaElemNullable = ExprGuards.elemNullable(theta.dataType)

  override def eval(input: InternalRow): Any = {
    val s = sino.eval(input); val n = size.eval(input)
    val t = theta.eval(input); val f = fill.eval(input)
    if (s == null || n == null || t == null || f == null) null
    else InverseRadonExpr.call(
      ExprGuards.evalGuard(s.asInstanceOf[ArrayData], sinoElemNullable, "iradon sinogram"),
      n.asInstanceOf[Int],
      ExprGuards.evalGuard(t.asInstanceOf[ArrayData], thetaElemNullable, "iradon theta"),
      f.asInstanceOf[Double], a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    val call = s"""graft.exprs.InverseRadonExpr.call(
            ${ExprGuards.genGuard(gs(0).value.toString, sinoElemNullable, "iradon sinogram")},
            ${gs(1).value},
            ${ExprGuards.genGuard(gs(2).value.toString, thetaElemNullable, "iradon theta")},
            ${gs(3).value}, $a, $b)"""
    ExprGuards.genCall(ev, gs, nullable, "org.apache.spark.sql.catalyst.util.ArrayData", call)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(sino = c(0), size = c(1), theta = c(2), fill = c(3))
}

object InverseRadonExpr {
  def call(sino: ArrayData, size: Int, theta: ArrayData, fill: Double,
           a: Double, b: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(graft.kernels.RadonKernel.inverseRadonSlice(
      sino.toDoubleArray(), size, theta.toDoubleArray(), fill, a, b))

  def inverseRadon(sino: Column, size: Column, theta: Column, fill: Column): Column =
    GraftColumnBridge.column(InverseRadonExpr(GraftColumnBridge.expression(sino),
      GraftColumnBridge.expression(size), GraftColumnBridge.expression(theta),
      GraftColumnBridge.expression(fill)))

  /** Smooth/sharpen filter family `ramp*(1 + a*ramp^b)`
    * (/root/reference/imops/radon.py:235-237). */
  def inverseRadonFiltered(sino: Column, size: Column, theta: Column, fill: Column,
                           a: Double, b: Double): Column =
    GraftColumnBridge.column(InverseRadonExpr(GraftColumnBridge.expression(sino),
      GraftColumnBridge.expression(size), GraftColumnBridge.expression(theta),
      GraftColumnBridge.expression(fill), a, b))
}
