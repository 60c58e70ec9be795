package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.exprs.{CenterOfMassAgg, ComPartialSums, DotProduct, KernelCall, KernelFn, Kernels}

/** Session-extension registration: exposes the custom Catalyst expressions
  * as SQL functions so `spark.sql` users get them too. Install with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *
  * or on a live session via `GraftExtensions.register(spark)`. This is the
  * engine's extension surface (SURVEY §2.8 "UDF/UDAF/UDTF"): new execution
  * providers plug in as Expressions/Aggregates, mirroring how the reference
  * plugs in backends rather than functions (backend.py:7-26).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // optimizer surface: the key-less band, levenshtein and hamming join
    // rewrites (see plans.JoinRewrites)
    graft.plans.JoinRewrites.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** A kernel under its declared name; `fixed` literals complete the
    * arguments the SQL form leaves out. */
  private def kernel(fn: KernelFn, usage: String, fixed: Expression*) =
    (fn.name, info(fn.name, usage), (args: Seq[Expression]) => KernelCall(fn, args ++ fixed))

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      info("dot_product", "dot_product(a, b) - codegen'd Σ a[k]*b[k] over numeric arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("center_of_mass_agg",
      info("center_of_mass_agg",
        "center_of_mass_agg(data, rows, cols, slice) - weighted mean coordinate over slice rows"),
      (args: Seq[Expression]) =>
        CenterOfMassAgg(args(0), args(1), args(2), args(3)).toAggregateExpression()),
    ("com_partial",
      info("com_partial",
        "com_partial(data, rows, cols, slice) - per-slice [Σw, Σw·s, Σw·i, Σw·j] partial sums"),
      (args: Seq[Expression]) => ComPartialSums(args(0), args(1), args(2), args(3))),
    kernel(Kernels.zoom,
      "graft_zoom(data, shape, scale, order, cval) - n-d zoom, returns struct(_1 data, _2 shape)"),
    kernel(Kernels.interp1d,
      "graft_interp1d(xs, ys, xq, extrapolate, fill) - whole-array linear interpolation"),
    kernel(Kernels.morph,
      "graft_morph(mask, shape, dilation) - default-cross binary erosion/dilation", Literal(false)),
    kernel(Kernels.radon, "graft_radon(data, size, theta_deg) - forward radon of one slice"),
    kernel(Kernels.inverseRadon,
      "graft_iradon(sinogram, size, theta_deg, fill) - filtered backprojection of one slice",
      Literal(0.0), Literal(1.0)))

  /** Register on an existing session (temp functions). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
