package graft.exprs

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The kind of one kernel argument: the Catalyst type it accepts and how a
  * non-null value of that type is handed to the kernel. Dense arrays are
  * read with one bulk `toXArray` copy; binary and scalars pass through. */
final class ArgKind private (val sql: String, val accepts: DataType => Boolean,
                             val read: Any => Any) extends Serializable

object ArgKind {
  private def array(elem: DataType, read: ArrayData => Any) =
    new ArgKind(ArrayType(elem).sql, {
      case ArrayType(`elem`, _) => true
      case _ => false
    }, v => read(v.asInstanceOf[ArrayData]))
  private def scalar(t: DataType) = new ArgKind(t.sql, _ == t, identity)

  val doubles: ArgKind = array(DoubleType, _.toDoubleArray())
  val ints: ArgKind = array(IntegerType, _.toIntArray())
  val longs: ArgKind = array(LongType, _.toLongArray())
  val booleans: ArgKind = array(BooleanType, _.toBooleanArray())
  val binary: ArgKind = scalar(BinaryType)
  val int: ArgKind = scalar(IntegerType)
  val double: ArgKind = scalar(DoubleType)
  val boolean: ArgKind = scalar(BooleanType)
}

/** A kernel declaration: a name, named argument kinds, the output type and
  * `run` over the read arguments (primitive arrays, `byte[]`, boxed
  * scalars). Equality is identity, so plans that call the same declaration
  * compare equal; plans print the name. Applying it to Columns builds a
  * [[KernelCall]]. */
final class KernelFn(val name: String, val args: Seq[(String, ArgKind)],
                     val dataType: DataType, run: Array[Any] => Any) extends Serializable {
  private val kinds = args.map(_._2).toArray
  private val argNames = args.map { case (arg, _) => s"$name $arg" }.toArray

  def apply(cols: Column*): Column =
    GraftColumnBridge.column(KernelCall(this, cols.map(GraftColumnBridge.expression)))

  /** The one conversion path of [[KernelCall]], shared by `eval` and
    * generated code: `values` are the children's non-null Catalyst values,
    * read in place; bit i of `scan` makes argument i fail on a null element
    * first. Primitive-array results leave through
    * `UnsafeArrayData.fromPrimitiveArray` (one bulk copy, no boxing), tuple
    * results as a row. */
  def call(values: Array[Any], scan: Int): Any = {
    var i = 0
    while (i < values.length) {
      if ((scan >> i & 1) != 0) ExprGuards.noNulls(values(i).asInstanceOf[ArrayData], argNames(i))
      values(i) = kinds(i).read(values(i))
      i += 1
    }
    KernelFn.toCatalyst(run(values))
  }

  override def toString: String = name
}

object KernelFn {
  private def toCatalyst(v: Any): Any = v match {
    case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Int] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Long] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Boolean] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Array[Byte]] => new GenericArrayData(a.asInstanceOf[Array[Any]])
    case p: Product => new GenericInternalRow(p.productIterator.map(toCatalyst).toArray)
    case other => other
  }
}

/** A call of one [[KernelFn]] on child expressions: the one Catalyst
  * expression behind every tensor kernel that SQL and the `Graft` facade
  * reach, pointwise add aside ([[PointwiseAddExpr]] keeps `zip_with`'s
  * null and length rules). The argument kinds decide the type check; any
  * null input gives null; an array whose static type allows null elements
  * is scanned and fails on one ([[ExprGuards.noNulls]]), a dense one is
  * not. */
case class KernelCall(fn: KernelFn, children: Seq[Expression]) extends Expression {

  override def nullable: Boolean = children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = fn.dataType
  override def prettyName: String = fn.name
  override def toString: String = s"${fn.name}(${children.mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != fn.args.length)
      TypeCheckResult.TypeCheckFailure(
        s"${fn.name} takes ${fn.args.length} arguments, got ${children.length}")
    else children.zip(fn.args).collectFirst {
      case (c, (arg, kind)) if !kind.accepts(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"${fn.name} $arg must be ${kind.sql}, got ${c.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Bit i: child i's static type allows null elements. */
  private lazy val scan: Int = children.zipWithIndex.map { case (c, i) =>
    if (ExprGuards.elemNullable(c.dataType)) 1 << i else 0
  }.sum

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](children.length)
    var i = 0
    while (i < values.length) {
      values(i) = children(i).eval(input)
      if (values(i) == null) return null
      i += 1
    }
    fn.call(values, scan)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gs = children.map(_.genCode(ctx))
    val values = children.zip(gs).map { case (c, g) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value})"
      else g.value.toString
    }
    val javaType = CodeGenerator.javaType(dataType)
    ExprGuards.genCall(ev, gs, nullable, javaType,
      s"($javaType) ${ctx.addReferenceObj("kernel", fn)}.call(" +
        s"new Object[] {${values.mkString(", ")}}, $scan)")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
