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

/** pointwise_add (imops/numeric.py:99-192) as a native Expression: a
  * numeric array plus a double scalar or a numeric array, per element, as
  * `array<double>`. Dense rows take one bulk read, a primitive loop and one
  * `UnsafeArrayData.fromPrimitiveArray` out, like [[KernelCall]]; Spark's
  * `transform`/`zip_with` are interpreted lambdas
  * (`CodegenFallback`) that box every cell.
  *
  * Results equal those HOF forms: null elements stay null (no
  * [[ExprGuards.noNulls]] here), integral and decimal elements widen to
  * double, and an array summand of another length pads the shorter side
  * with null, as `zip_with` does. So the scalar form keeps the input's
  * `containsNull` and the array form is always `containsNull = true`.
  */
case class PointwiseAddExpr(data: Expression, summand: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(data, summand)
  override def nullable: Boolean = children.exists(_.nullable)
  private def arraySummand = summand.dataType.isInstanceOf[ArrayType]
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = arraySummand || ExprGuards.elemNullable(data.dataType))

  override def checkInputDataTypes(): TypeCheckResult = {
    def numericArray(e: Expression) = e.dataType match {
      case ArrayType(_: NumericType, _) => true
      case _ => false
    }
    if (!numericArray(data))
      TypeCheckResult.TypeCheckFailure(s"pointwise_add data must be a numeric array, got ${data.dataType.sql}")
    else if (summand.dataType != DoubleType && !numericArray(summand))
      TypeCheckResult.TypeCheckFailure(
        s"pointwise_add summand must be double or a numeric array, got ${summand.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private def elemType(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType
  private lazy val dataElemNullable = ExprGuards.elemNullable(data.dataType)
  private lazy val summandElemNullable = ExprGuards.elemNullable(summand.dataType)

  override def eval(input: InternalRow): Any = {
    val d = data.eval(input); val s = summand.eval(input)
    if (d == null || s == null) null
    else if (arraySummand)
      PointwiseAddExpr.addArrays(d.asInstanceOf[ArrayData], elemType(data), dataElemNullable,
        s.asInstanceOf[ArrayData], elemType(summand), summandElemNullable)
    else
      PointwiseAddExpr.addScalar(d.asInstanceOf[ArrayData], elemType(data), dataElemNullable,
        s.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    def typeRef(e: Expression) = ctx.addReferenceObj("elemType", elemType(e), classOf[DataType].getName)
    val call =
      if (arraySummand)
        s"""graft.exprs.PointwiseAddExpr.addArrays(${gs(0).value}, ${typeRef(data)}, $dataElemNullable,
              ${gs(1).value}, ${typeRef(summand)}, $summandElemNullable)"""
      else
        s"""graft.exprs.PointwiseAddExpr.addScalar(${gs(0).value}, ${typeRef(data)}, $dataElemNullable,
              ${gs(1).value})"""
    ExprGuards.genCall(ev, gs, nullable, "org.apache.spark.sql.catalyst.util.ArrayData", call)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(data = c(0), summand = c(1))
}

object PointwiseAddExpr {
  /** `data[i] + s`; a null element stays null. */
  def addScalar(data: ArrayData, t: DataType, elemsNullable: Boolean, s: Double): ArrayData =
    if (elemsNullable && hasNull(data)) {
      val n = data.numElements()
      val out = UnsafeArrayData.createFreshArray(n, 8)
      var i = 0
      while (i < n) {
        if (data.isNullAt(i)) out.setNullAt(i) else out.setDouble(i, elem(data, t, i) + s)
        i += 1
      }
      out
    } else {
      val d = doubles(data, t)
      var i = 0
      while (i < d.length) { d(i) += s; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(d)
    }

  /** `a[i] + b[i]` over the longer length; past the shorter side's end, or
    * where either element is null, the result is null. */
  def addArrays(a: ArrayData, at: DataType, aNullable: Boolean,
                b: ArrayData, bt: DataType, bNullable: Boolean): ArrayData = {
    val n = a.numElements(); val m = b.numElements()
    if (n == m && !(aNullable && hasNull(a)) && !(bNullable && hasNull(b))) {
      val d = doubles(a, at); val e = doubles(b, bt)
      var i = 0
      while (i < n) { d(i) += e(i); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(d)
    } else {
      val len = math.max(n, m)
      val out = UnsafeArrayData.createFreshArray(len, 8)
      var i = 0
      while (i < len) {
        if (i >= n || i >= m || a.isNullAt(i) || b.isNullAt(i)) out.setNullAt(i)
        else out.setDouble(i, elem(a, at, i) + elem(b, bt, i))
        i += 1
      }
      out
    }
  }

  private def hasNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n && !a.isNullAt(i)) i += 1
    i < n
  }

  /** A fresh `double[]` of a dense array: one bulk copy for doubles. */
  private def doubles(a: ArrayData, t: DataType): Array[Double] =
    if (t == DoubleType) a.toDoubleArray()
    else Array.tabulate(a.numElements())(i => elem(a, t, i))

  /** Element `i` widened to double, as Spark's numeric-to-double cast does. */
  private def elem(a: ArrayData, t: DataType, i: Int): Double = t match {
    case DoubleType => a.getDouble(i)
    case FloatType => a.getFloat(i).toDouble
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case ShortType => a.getShort(i).toDouble
    case ByteType => a.getByte(i).toDouble
    case d: DecimalType => a.getDecimal(i, d.precision, d.scale).toDouble
  }

  /** Column form: `summand` is a double or a numeric array. */
  def add(data: Column, summand: Column): Column =
    GraftColumnBridge.column(PointwiseAddExpr(
      GraftColumnBridge.expression(data), GraftColumnBridge.expression(summand)))
}
