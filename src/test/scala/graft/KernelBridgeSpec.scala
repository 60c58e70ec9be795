package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression, ScalaUDF, ZipWith}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Graft
import graft.exprs.{Interp1dExpr, KernelCall, Kernels, PointwiseAddExpr}

/** Runs a query once interpreted and once through generated code. */
object CodegenModes extends AdaptiveSparkPlanHelper {
  /** Interpreted: whole-stage codegen off and `NO_CODEGEN` projections, so
    * every expression goes through `eval`. */
  val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  /** Generated: whole-stage codegen on and `CODEGEN_ONLY`, so a bad
    * `doGenCode` fails instead of falling back. */
  val generated = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  def withConf[T](spark: SparkSession, kvs: Seq[(String, String)])(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The frame's rows, printed (so NaN and -0.0 compare exactly), and
    * whether its executed plan has a whole-stage codegen node. */
  def rows(df: DataFrame): (Seq[String], Boolean) = {
    val out = df.collect().map(_.toString).toSeq
    val wsc = find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    (out, wsc)
  }
}

/** Non-local input: a LocalRelation would be evaluated by the optimizer
  * (ConvertToLocalRelation, always interpreted), never by generated code. */
private object BridgeInputs {
  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
}

class PointwiseAddExprSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import CodegenModes._

  private def arr(t: DataType, containsNull: Boolean) = ArrayType(t, containsNull)

  /** The new expression and the builtin HOF give the same schema and the
    * same rows, interpreted and generated. */
  private def pin(df: DataFrame, expr: Column, hof: Column): Unit =
    Seq(interpreted, generated).foreach { mode =>
      withConf(spark, mode) {
        val got = df.select(col("id"), expr.as("r")).orderBy("id")
        val want = df.select(col("id"), hof.as("r")).orderBy("id")
        assert(got.schema == want.schema, s"$mode: ${got.schema} vs ${want.schema}")
        assert(rows(got)._1 == rows(want)._1, s"$mode")
      }
    }

  private def scalarCase(elem: DataType, containsNull: Boolean, data: Seq[Seq[Any]],
                         summands: Seq[Double]): Unit = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("data", arr(elem, containsNull), nullable = true)))
    val df = BridgeInputs.frame(spark, schema, data.zipWithIndex.map { case (d, i) => Row(i.toLong, d) })
    summands.foreach { s =>
      pin(df, Graft.pointwiseAdd(col("data"), s), transform(col("data"), x => x + lit(s)))
    }
  }

  test("scalar summand on a dense array, empty and null rows, NaN and infinities") {
    scalarCase(DoubleType, containsNull = false,
      Seq(Seq(1.0, 2.5, -3.0, 0.0), Seq(), null,
        Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, Double.MaxValue)),
      Seq(1.5, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
  }

  test("null elements of a nullable-element schema stay null") {
    scalarCase(DoubleType, containsNull = true,
      Seq(Seq(1.0, null, 3.0), Seq(null), Seq(4.0, 5.0), Seq(), null), Seq(5.0))
  }

  test("int arrays widen to double as the HOF's coercion does") {
    scalarCase(IntegerType, containsNull = false,
      Seq(Seq(1, -2, Int.MaxValue, Int.MinValue), Seq(), null), Seq(0.5, 2.5))
    scalarCase(IntegerType, containsNull = true, Seq(Seq(1, null, 3), null), Seq(0.5))
  }

  test("array summand: same length, other lengths, null elements and null rows") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("a", arr(DoubleType, containsNull = true), nullable = true),
      StructField("b", arr(DoubleType, containsNull = false), nullable = true),
      StructField("c", arr(IntegerType, containsNull = false), nullable = true)))
    val df = BridgeInputs.frame(spark, schema, Seq(
      Row(0L, Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0, 30.0), Seq(1, 2, 3)),
      Row(1L, Seq(1.0, null, 3.0), Seq(Double.NaN, 1.0, Double.NegativeInfinity), Seq(7, 8, 9)),
      Row(2L, Seq(1.0), Seq(1.0, 2.0, 3.0), Seq(4, 5)),
      Row(3L, Seq(1.0, 2.0, 3.0), Seq(5.0), Seq()),
      Row(4L, Seq(), Seq(), Seq()),
      Row(5L, null, Seq(1.0), null),
      Row(6L, Seq(Double.PositiveInfinity), null, Seq(1))))
    for ((l, r) <- Seq("a" -> "b", "b" -> "a", "b" -> "b", "a" -> "a", "b" -> "c", "c" -> "a")) {
      pin(df, Graft.pointwiseAdd(col(l), col(r)), zip_with(col(l), col(r), (x, y) => x + y))
    }
  }

  test("all-literal children take the FalseLiteral codegen branch") {
    val df = spark.range(3).toDF("id")
    val a = typedlit(Array(1.0, -2.0, Double.NaN))
    val b = typedlit(Array(0.5, 0.25))
    pin(df, Graft.pointwiseAdd(a, 1.0), transform(a, x => x + lit(1.0)))
    pin(df, Graft.pointwiseAdd(a, b), zip_with(a, b, (x, y) => x + y))
  }

  test("non-numeric inputs are rejected at analysis") {
    val df = spark.range(1).select(typedlit(Array("x")).as("s"), typedlit(Array(1.0)).as("d"))
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(Graft.pointwiseAdd(col("s"), 1.0)).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(Graft.pointwiseAdd(col("d"), col("s"))).collect())
  }
}

class KernelBridgeCodegenSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import CodegenModes._

  private val side = 16
  private def image(r: Int): Seq[Double] = Seq.tabulate(side * side) { i =>
    val (y, x) = (i / side, i % side)
    val (dy, dx) = (y - side / 2 + 0.5, x - side / 2 + 0.5)
    if (dy * dy + dx * dx < (side / 3) * (side / 3)) (i % 7 + r).toDouble * 0.5 else 0.0
  }
  private def mask(r: Int): Seq[Boolean] = Seq.tabulate(side * side)(i => (i * 7 + r) % 5 != 0)
  /** Support strictly inside the image, as boxed morphology requires. */
  private def blob(r: Int): Seq[Boolean] = image(r).map(_ > 0)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("img", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("vals", ArrayType(DoubleType, containsNull = true), nullable = true),
    StructField("mask", ArrayType(BooleanType, containsNull = false), nullable = true),
    StructField("blob", ArrayType(BooleanType, containsNull = false), nullable = true)))
  private lazy val df = BridgeInputs.frame(spark, schema, Seq.tabulate(6) { r =>
    if (r == 5) Row(r.toLong, null, null, null, null)
    else Row(r.toLong, image(r), Seq.tabulate(side)(i => if (r == 3 && i == 2) null else i * 1.5 - r),
      mask(r), blob(r))
  })

  private val shape = array(lit(side), lit(side))
  private val theta = typedlit(Array(0.0, 30.0, 60.0, 90.0, 135.0))
  private val outputs: Seq[(String, Column)] = Seq(
    "zoom_o0" -> Kernels.zoom(col("img"), shape, typedlit(Array(1.5, 0.5)), lit(0), lit(0.0)),
    "zoom_o1" -> Kernels.zoom(col("img"), shape, typedlit(Array(1.5, 0.5)), lit(1), lit(-1.0)),
    "interp1d" -> Interp1dExpr.interp1dArr(typedlit(Array.tabulate(side * side)(_.toDouble)),
      col("img"), typedlit(Array(-1.0, 0.5, 17.25, 300.0)), lit(true), lit(0.0)),
    "erode" -> Graft.binaryErosion(col("mask"), shape),
    "dilate" -> Graft.binaryDilation(col("mask"), shape),
    "close" -> Graft.binaryClosing(col("mask"), shape),
    "open" -> Graft.binaryOpening(col("mask"), shape),
    "radon" -> Kernels.radon(col("img"), lit(side), theta),
    "radon_fill" -> Kernels.radonWithFill(col("img"), lit(side), theta),
    "iradon" -> Kernels.inverseRadon(Kernels.radon(col("img"), lit(side), theta), lit(side), theta,
      lit(0.0), lit(0.0), lit(1.0)),
    "iradon_filtered" -> Kernels.inverseRadon(Kernels.radon(col("img"), lit(side), theta), lit(side),
      theta, lit(0.0), lit(0.5), lit(2.0)),
    "zoom_to_shape" -> Graft.zoomToShape(col("img"), shape, Seq(20, 9)),
    "label" -> Graft.label(col("img"), shape, connectivity = 1),
    "edt" -> Graft.distanceTransformEdt(col("mask"), shape, Seq(1.0, 2.0)),
    "edt_feature" -> Kernels.edtFeature(col("mask"), shape, typedlit(Array(1.0, 2.0))),
    "hull" -> Graft.convexHullImage(col("blob"), shape),
    "morph_footprint" -> Kernels.morphFootprint(col("mask"), shape,
      typedlit(Array(true, true, true, false, false, true)), typedlit(Array(3, 2)), lit(true)),
    "boxed_morph" -> Kernels.boxedMorph(col("blob"), shape, lit(false)),
    // binary frames print as strings, so rows compare by content
    "frame_sample" -> Kernels.frameSample(col("img").cast("string").cast("binary"), lit(7), lit(3))
      .cast("array<string>"),
    "dt1d" -> Kernels.dt1d(col("img"), lit(1.5)),
    "add_scalar" -> PointwiseAddExpr.add(col("vals"), lit(2.5)),
    "add_array" -> PointwiseAddExpr.add(col("img"), col("img")))

  test("every kernel-bridge expression gives the same rows interpreted and generated") {
    outputs.foreach { case (name, c) =>
      val q = () => df.select(col("id"), c.as("r")).orderBy("id")
      val (slow, slowWsc) = withConf(spark, interpreted)(rows(q()))
      val (fast, fastWsc) = withConf(spark, generated)(rows(q()))
      assert(!slowWsc && fastWsc, s"$name: codegen modes not in effect")
      assert(slow.size == 6 && slow.last.endsWith(",null]"), s"$name: ${slow.last}")
      assert(slow == fast, s"$name differs between interpreted and generated code")
    }
  }
}

class TensorPlanShapeSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  test("the tensor API plans no Scala UDF, transform or zip_with") {
    val df = spark.range(2).select(col("id"),
      array(lit(1.0), col("id").cast("double")).as("data"),
      array(lit(true), col("id") > 0).as("mask"))
    val shape = array(lit(2))
    val shape2 = array(lit(1), lit(2))
    // every tensor call of the facade; fill and isin are transform lambdas
    val calls = Seq(
      "pointwiseAdd(scalar)" -> Graft.pointwiseAdd(col("data"), 1.0),
      "pointwiseAdd(array)" -> Graft.pointwiseAdd(col("data"), col("data")),
      "zoom" -> Graft.zoom(col("data"), shape, 1, Left(2.0)),
      "zoomToShape" -> Graft.zoomToShape(col("data"), shape, Seq(3)),
      "label" -> Graft.label(col("data"), shape),
      "distanceTransformEdt" -> Graft.distanceTransformEdt(col("mask"), shape, Seq(1.0)),
      "convexHullImage" -> Graft.convexHullImage(col("mask"), shape2),
      "radon" -> Graft.radon(col("data"), 2, Seq(0.0)),
      "radonWithFill" -> Graft.radonWithFill(col("data"), 2, Seq(0.0)),
      "inverseRadon" -> Graft.inverseRadon(col("data"), 2, Seq(0.0)),
      "inverseRadonFiltered" -> Graft.inverseRadonFiltered(col("data"), 2, Seq(0.0), 0.0, 0.5, 2.0),
      "binaryErosion" -> Graft.binaryErosion(col("mask"), shape),
      "binaryDilation" -> Graft.binaryDilation(col("mask"), shape),
      "binaryClosing" -> Graft.binaryClosing(col("mask"), shape),
      "binaryOpening" -> Graft.binaryOpening(col("mask"), shape))
    calls.foreach { case (name, c) =>
      val plan = df.select(c.as("r")).queryExecution.optimizedPlan
      val exprs: Seq[Expression] = plan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect { case e => e })
      val interpreted = exprs.filter(e =>
        e.isInstanceOf[ScalaUDF] || e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ZipWith])
      assert(interpreted.isEmpty, s"$name plans ${interpreted.map(_.prettyName).mkString(", ")}")
      assert(exprs.exists(e => e.isInstanceOf[PointwiseAddExpr] || e.isInstanceOf[KernelCall]),
        s"$name: no kernel-bridge expression in\n$plan")
    }
  }
}
