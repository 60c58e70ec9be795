package graft.exprs

import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Input guard and codegen glue shared by [[KernelCall]] and
  * [[PointwiseAddExpr]]. */
object ExprGuards {
  /** Fails fast on null array elements instead of leaving the outcome to
    * the physical representation (the bulk converters NPE on
    * GenericArrayData but silently read 0/false from UnsafeArrayData's
    * null slots). [[KernelCall]] applies this only when the static element
    * type is nullable, so dense (`containsNull = false`) schemas — all the
    * benched hot paths — pay nothing.
    */
  def noNulls(a: ArrayData, what: String): Unit = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft: $what contains a null element at index $i; kernels require dense arrays")
      i += 1
    }
  }

  /** Whether the static type is an array whose elements may be null. */
  def elemNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  /** Generated code for a null-intolerant bridge call: evaluates the
    * children, yields null if any of them is null, else `call` (a Java
    * expression over the children's values) typed as `javaType`.
    */
  def genCall(ev: ExprCode, gs: Seq[ExprCode], nullable: Boolean,
              javaType: String, call: String): ExprCode = {
    val childCode = gs.map(_.code).reduce((a, b) => code"$a\n$b")
    // when no child is nullable, ev.isNull is the FalseLiteral "false" and
    // must not be redeclared as a boolean variable
    if (nullable) {
      val nullCheck = gs.map(_.isNull).mkString(" || ")
      ev.copy(code =
        code"""
          $childCode
          boolean ${ev.isNull} = $nullCheck;
          $javaType ${ev.value} = null;
          if (!${ev.isNull}) {
            ${ev.value} = $call;
          }
        """)
    } else {
      ev.copy(code =
        code"""
          $childCode
          $javaType ${ev.value} = $call;
        """)
    }
  }
}
