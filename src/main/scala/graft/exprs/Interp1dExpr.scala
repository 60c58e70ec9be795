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

/** Whole-array interp1d as a native Expression: bulk `toDoubleArray` reads
  * (one copyMemory per UnsafeArrayData) feeding [[graft.kernels.Interp1dKernel]]
  * directly from generated code.
  *
  * The Scala-UDF form pays per-element CatalystTypeConverters boxing on
  * three input arrays and the output per row — measured at ~10x the actual
  * kernel cost on the 2^24-cell benchmark (the bracket search + lerp is
  * ~15 ns/point; the UDF boundary dominated). This expression shares the
  * kernel (no semantic duplication: argsort fallback, x_new==x[0] interior
  * rule, NaN policy all live in one place,
  * /root/reference/imops/src/_zoom.pyx:30-120).
  */
case class Interp1dExpr(xs: Expression, ys: Expression, xq: Expression,
                        extrapolate: Expression, fillValue: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(xs, ys, xq, extrapolate, fillValue)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!arr(xs) || !arr(ys) || !arr(xq))
      TypeCheckResult.TypeCheckFailure(
        s"interp1d xs/ys/xq must be array<double>, got ${xs.dataType.sql}/${ys.dataType.sql}/${xq.dataType.sql}")
    else if (extrapolate.dataType != BooleanType || fillValue.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"interp1d extrapolate/fillValue must be boolean/double, got ${extrapolate.dataType.sql}/${fillValue.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  // fail fast on null elements when the static schema allows them (ADVICE
  // r3); dense schemas compile to the unguarded bulk read
  private lazy val xsElemNullable = ExprGuards.elemNullable(xs.dataType)
  private lazy val ysElemNullable = ExprGuards.elemNullable(ys.dataType)
  private lazy val xqElemNullable = ExprGuards.elemNullable(xq.dataType)

  override def eval(input: InternalRow): Any = {
    val a = xs.eval(input); val b = ys.eval(input); val c = xq.eval(input)
    val e = extrapolate.eval(input); val f = fillValue.eval(input)
    if (a == null || b == null || c == null || e == null || f == null) null
    else UnsafeArrayData.fromPrimitiveArray(graft.kernels.Interp1dKernel.interp(
      ExprGuards.evalGuard(a.asInstanceOf[ArrayData], xsElemNullable, "interp1d xs").toDoubleArray(),
      ExprGuards.evalGuard(b.asInstanceOf[ArrayData], ysElemNullable, "interp1d ys").toDoubleArray(),
      ExprGuards.evalGuard(c.asInstanceOf[ArrayData], xqElemNullable, "interp1d xq").toDoubleArray(),
      e.asInstanceOf[Boolean], f.asInstanceOf[Double]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    val call = s"""org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray(graft.kernels.Interp1dKernel.interp(
              ${ExprGuards.genGuard(gs(0).value.toString, xsElemNullable, "interp1d xs")}.toDoubleArray(),
              ${ExprGuards.genGuard(gs(1).value.toString, ysElemNullable, "interp1d ys")}.toDoubleArray(),
              ${ExprGuards.genGuard(gs(2).value.toString, xqElemNullable, "interp1d xq")}.toDoubleArray(),
              ${gs(3).value}, ${gs(4).value}))"""
    ExprGuards.genCall(ev, gs, nullable, "org.apache.spark.sql.catalyst.util.ArrayData", call)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(xs = c(0), ys = c(1), xq = c(2), extrapolate = c(3), fillValue = c(4))
}

object Interp1dExpr {
  /** Column form of the whole-array interp1d hot path. */
  def interp1dArr(xs: Column, ys: Column, xq: Column,
                  extrapolate: Column, fillValue: Column): Column =
    GraftColumnBridge.column(Interp1dExpr(
      GraftColumnBridge.expression(xs), GraftColumnBridge.expression(ys),
      GraftColumnBridge.expression(xq), GraftColumnBridge.expression(extrapolate),
      GraftColumnBridge.expression(fillValue)))
}
