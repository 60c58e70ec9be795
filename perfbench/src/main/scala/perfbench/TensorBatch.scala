package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JValue

import graft.api.Graft
import graft.kernels.{Interp1dKernel, RadonKernel, StencilKernel, ZoomKernel}

/** Seeded slice generators shared by the Spark-side input frames and the
  * Spark-free reference threads. */
object TensorInputs {
  val ZoomSide = 256      // 64 slices of 256x256 f64: 2^22 cells, 32 MiB
  val ZoomRows = 64
  val BigSide = 512       // 216 slices of 512x512 f64: 432 MiB, 4.1x the 105 MiB L3
  val BigRows = 216
  val MaskSide = 512      // 128 slices of 512x512 bool: 2^25 cells, 32 MiB
  val MaskRows = 128
  val InterpLen = 256     // 16384 rows of 256 f64: 2^22 cells, 32 MiB
  val InterpRows = 16384
  val RadonSide = 256     // 4 slices of 256x256 f64 at 180 angles, one per core
  val RadonRows = 4
  val Angles = 180

  val theta: Array[Double] = RadonKernel.thetaLinspace(Angles)
  val interpXs: Array[Double] = Array.tabulate(InterpLen)(_.toDouble)
  def interpXq(seed: Long): Array[Double] = {
    val r = Gen.rng(seed, 6, 0)
    Array.fill(InterpLen)(-8.0 + r.nextDouble() * (InterpLen + 15))
  }

  def zoom(seed: Long, id: Long): Array[Double] = Gen.doubles(seed, 1, id, ZoomSide * ZoomSide)
  def big(seed: Long, id: Long): Array[Double] = Gen.doubles(seed, 2, id, BigSide * BigSide)
  def mask(seed: Long, id: Long): Array[Boolean] = Gen.bools(seed, 3, id, MaskSide * MaskSide, 0.8)
  def interp(seed: Long, id: Long): Array[Double] = Gen.doubles(seed, 4, id, InterpLen)

  /** Random values inside the inscribed circle, zero outside it (radon's
    * input contract). */
  def image(seed: Long, id: Long): Array[Double] = {
    val n = RadonSide
    val a = Gen.doubles(seed, 5, id, n * n)
    val r = n / 2
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val di = i - r; val dj = j - r
        if (di * di + dj * dj > r * r) a(i * n + j) = 0.0
        j += 1
      }
      i += 1
    }
    a
  }
  def sinogram(seed: Long, id: Long): Array[Double] =
    RadonKernel.radonSlice(image(seed, id), RadonSide, theta)
}

/** BASELINE.md operators on cached batches of slices through the facade
  * and the exprs column builders: no shuffle, one small plan per call. */
final class TensorBatch(spark: SparkSession, seed: Long) extends Workload {
  import TensorInputs._
  val name = "tensor_batch"
  def passes(seconds: Int): Int = math.max(2, math.round(seconds / 2.0).toInt)

  private var frames = Map.empty[String, DataFrame]
  private var expected = Map.empty[String, Digest]
  private var comExpected: Array[Double] = _

  private val s = seed
  private val genZoom = { val sd = seed; udf((id: Long) => TensorInputs.zoom(sd, id)) }
  private val genBig = { val sd = seed; udf((id: Long) => TensorInputs.big(sd, id)) }
  private val genMask = { val sd = seed; udf((id: Long) => TensorInputs.mask(sd, id)) }
  private val genInterp = { val sd = seed; udf((id: Long) => TensorInputs.interp(sd, id)) }
  private val genImage = { val sd = seed; udf((id: Long) => TensorInputs.image(sd, id)) }
  private val genSino = { val sd = seed; udf((id: Long) => TensorInputs.sinogram(sd, id)) }

  private def cached(rows: Int, c: Column): DataFrame = {
    val df = spark.range(rows).select(col("id"), c.as("data")).persist()
    df.count()
    df
  }

  def prepare(): Unit = {
    frames = Map(
      "zoom" -> cached(ZoomRows, genZoom(col("id"))),
      "big" -> cached(BigRows, genBig(col("id"))),
      "mask" -> cached(MaskRows, genMask(col("id"))),
      "interp" -> cached(InterpRows, genInterp(col("id"))),
      "image" -> cached(RadonRows, genImage(col("id"))),
      "sino" -> cached(RadonRows, genSino(col("id"))))
  }

  private lazy val cross2 = StencilKernel.crossFootprint(2)
  private def input(op: String, id: Long): Any = op match {
    case "zoom_o0" | "zoom_o1" => zoom(s, id)
    case "pointwise_add" | "center_of_mass" => big(s, id)
    case "binary_erosion" | "binary_closing" => mask(s, id)
    case "interp1d" => interp(s, id)
    case "radon" => image(s, id)
    case "inverse_radon" => sinogram(s, id)
  }
  private def compute(op: String, id: Long, in: Any): Any = (op, in) match {
    case ("zoom_o0", a: Array[Double]) => ZoomKernel.zoom(a, Array(ZoomSide, ZoomSide), Array(2.0, 2.0), 0, 0.0)
    case ("zoom_o1", a: Array[Double]) => ZoomKernel.zoom(a, Array(ZoomSide, ZoomSide), Array(2.0, 2.0), 1, 0.0)
    case ("pointwise_add", a: Array[Double]) =>
      val o = new Array[Double](a.length); var i = 0
      while (i < a.length) { o(i) = a(i) + 1.0; i += 1 }
      o
    case ("binary_erosion", m: Array[Boolean]) =>
      StencilKernel.erode(m, Array(MaskSide, MaskSide), cross2._1, cross2._2)
    case ("binary_closing", m: Array[Boolean]) =>
      StencilKernel.close(m, Array(MaskSide, MaskSide), cross2._1, cross2._2)
    case ("interp1d", y: Array[Double]) => Interp1dKernel.interp(interpXs, y, xq, extrapolate = true, fillValue = 0.0)
    case ("radon", a: Array[Double]) => RadonKernel.radonSlice(a, RadonSide, theta)
    case ("inverse_radon", a: Array[Double]) => RadonKernel.inverseRadonSlice(a, RadonSide, theta, 0.0)
    case ("center_of_mass", a: Array[Double]) => graft.operators.VolumeCom.partial(id, a, BigSide, BigSide)
  }
  private def kernel(op: String, id: Long): Any = compute(op, id, input(op, id))
  private val rowsOf = Map("zoom_o0" -> ZoomRows, "zoom_o1" -> ZoomRows, "pointwise_add" -> BigRows,
    "binary_erosion" -> MaskRows, "binary_closing" -> MaskRows, "interp1d" -> InterpRows,
    "radon" -> RadonRows, "inverse_radon" -> RadonRows, "center_of_mass" -> BigRows)
  private lazy val xq = interpXq(s)

  /** Row hash of (id, r) with r the kernel's output, as Spark hashes it. */
  private def rowHash(id: Long, out: Any): Long = {
    val h = H.long(id, ResultHash.Seed)
    out match {
      case (d: Array[Double] @unchecked, sh: Array[Int] @unchecked) => H.ints(sh, H.doubles(d, h))
      case d: Array[Double] => H.doubles(d, h)
      case b: Array[Boolean] => H.bools(b, h)
    }
  }

  def reference(): Unit = {
    val ops = rowsOf.keys.filter(_ != "center_of_mass").toSeq
    expected = ops.map { op =>
      op -> Par.digest(rowsOf(op), Par.threads)(i => rowHash(i.toLong, kernel(op, i.toLong)))
    }.toMap
    val parts = new Array[Array[Double]](BigRows)
    Par.foreach(BigRows, Par.threads)(i => parts(i) = kernel("center_of_mass", i.toLong).asInstanceOf[Array[Double]])
    val p = new Array[Double](4)
    parts.foreach(a => (0 until 4).foreach(k => p(k) += a(k)))
    comExpected = Array(p(1) / p(0), p(2) / p(0), p(3) / p(0))
  }

  private def check(op: String, df: DataFrame): Unit = {
    val got = ResultHash.of(df)
    if (got != expected(op)) throw WrongOutput(s"$op digest $got, expected ${expected(op)}")
  }
  private def shape2(n: Int): Column = array(lit(n), lit(n))
  private lazy val xsLit = typedlit(interpXs)
  private lazy val xqLit = typedlit(xq)
  private def out(f: String, c: Column): DataFrame = frames(f).select(col("id"), c.as("r"))

  private def calls: Seq[Call] = Seq(
    Call("zoom_o0", "api", () => check("zoom_o0",
      out("zoom", Graft.zoom(col("data"), shape2(ZoomSide), 2, Left(2.0), order = 0)))),
    Call("zoom_o1", "api", () => check("zoom_o1",
      out("zoom", Graft.zoom(col("data"), shape2(ZoomSide), 2, Left(2.0), order = 1)))),
    Call("pointwise_add", "api", () => check("pointwise_add",
      out("big", Graft.pointwiseAdd(col("data"), 1.0)))),
    Call("binary_erosion", "api", () => check("binary_erosion",
      out("mask", Graft.binaryErosion(col("data"), shape2(MaskSide))))),
    Call("binary_closing", "api", () => check("binary_closing",
      out("mask", Graft.binaryClosing(col("data"), shape2(MaskSide))))),
    Call("interp1d", "api", () => check("interp1d",
      out("interp", graft.exprs.Interp1dExpr.interp1dArr(xsLit, col("data"), xqLit, lit(true), lit(0.0))))),
    Call("radon", "api", () => check("radon",
      out("image", Graft.radon(col("data"), RadonSide, theta.toSeq)))),
    Call("inverse_radon", "api", () => check("inverse_radon",
      out("sino", Graft.inverseRadon(col("data"), RadonSide, theta.toSeq)))),
    Call("center_of_mass", "api", () => {
      val got = Graft.centerOfMass(frames("big"), "id", "data", BigSide, BigSide)
      val ok = got != null && got.length == 3 && got.indices.forall { k =>
        math.abs(got(k) - comExpected(k)) <= 1e-9 * math.max(1.0, math.abs(comExpected(k)))
      }
      if (!ok) throw WrongOutput(s"center_of_mass ${Option(got).map(_.mkString(",")).orNull}, " +
        s"expected ${comExpected.mkString(",")}")
    }))

  def pass(index: Int): Seq[Call] = calls

  def sizes: Seq[(String, JValue)] = Seq(
    "zoom" -> Json.str(s"$ZoomRows x ${ZoomSide}x$ZoomSide f64 (32 MiB), scale 2, orders 0 and 1"),
    "pointwise_add_and_center_of_mass" ->
      Json.str(s"$BigRows x ${BigSide}x$BigSide f64 (432 MiB, 4.1x the 105 MiB L3)"),
    "morphology" -> Json.str(s"$MaskRows x ${MaskSide}x$MaskSide bool (32 MiB)"),
    "interp1d" -> Json.str(s"$InterpRows rows x $InterpLen f64 (32 MiB), $InterpLen queries"),
    "radon" -> Json.str(s"$RadonRows x ${RadonSide}x$RadonSide f64, $Angles angles"))

  /** Bytes each bandwidth-bound call reads and writes. */
  private val gbMoved = Map(
    "pointwise_add" -> 2.0 * BigRows * BigSide * BigSide * 8 / 1e9,
    "center_of_mass" -> 1.0 * BigRows * BigSide * BigSide * 8 / 1e9)
  private val cells = Map(
    "zoom_o0" -> 1.0 * ZoomRows * ZoomSide * ZoomSide, "zoom_o1" -> 1.0 * ZoomRows * ZoomSide * ZoomSide,
    "pointwise_add" -> 1.0 * BigRows * BigSide * BigSide,
    "binary_erosion" -> 1.0 * MaskRows * MaskSide * MaskSide,
    "binary_closing" -> 1.0 * MaskRows * MaskSide * MaskSide,
    "interp1d" -> 1.0 * InterpRows * InterpLen,
    "radon" -> 1.0 * RadonRows * RadonSide * Angles,
    "inverse_radon" -> 1.0 * RadonRows * RadonSide * RadonSide,
    "center_of_mass" -> 1.0 * BigRows * BigSide * BigSide)

  override def layers(callSeconds: Map[String, Double]): LayerRecord = {
    val ms = scala.collection.mutable.ArrayBuffer[(String, Double, String)]()
    rowsOf.keys.toSeq.sorted.foreach { op =>
      val st = KernelTiming.run(rowsOf(op), 1)(i => input(op, i.toLong))((i, in) => compute(op, i.toLong, in))
      val mt = KernelTiming.run(rowsOf(op), Par.threads)(i => input(op, i.toLong))((i, in) => compute(op, i.toLong, in))
      ms += ((s"kernels.$op.st_s", st, "s"))
      ms += ((s"kernels.$op.mt_s", mt, "s"))
      gbMoved.get(op).foreach(gb => ms += ((s"kernels.$op.gb_computed", gb, "GB")))
      callSeconds.get(op).foreach { api =>
        ms += ((s"api.$op.cells_per_s", cells(op) / api, "1/s"))
        ms += ((s"api.$op.spark_overhead_s", api - mt, "s"))
      }
    }
    LayerRecord(ms.toSeq, Nil)
  }
}

/** Times a kernel over `n` items on plain JVM threads. Input generation is
  * outside the timed region: each thread sums the time of its own kernel
  * calls, and the result is the busiest thread's sum. */
object KernelTiming {
  def run[A](n: Int, threads: Int)(input: Int => A)(kernel: (Int, A) => Any): Double = {
    val busy = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    Par.foreach(n, threads) { i =>
      val in = input(i)
      val t0 = System.nanoTime()
      kernel(i, in)
      val dt = System.nanoTime() - t0
      busy.merge(Thread.currentThread().getId, dt, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
    import scala.jdk.CollectionConverters._
    busy.values.asScala.map(_.longValue).max / 1e9
  }
}
