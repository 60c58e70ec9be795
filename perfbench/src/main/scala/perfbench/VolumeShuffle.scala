package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.json4s.JValue

import graft.kernels.{LabelKernel, StencilKernel, ZoomKernel}
import graft.operators.{DistributedLabel, TiledStencil, VolumeZoom}
import graft.operators.TiledStencil.Tile3
import graft.operators.VolumeZoom.ZSlice

object VolumeInputs {
  val ZoomSide = 128                   // 128^3 f64 (16 MiB) zoomed x2 to 256^3 (128 MiB)
  val HaloDims = Array(512, 256, 320)  // 1.25 x 2^25 bool cells, over the 2^25 assembly cutoff
  val Tile = 64
  val BatchVolumes = 4                 // 4 volumes of 128^3 bool, each under the cutoff
  val BatchSide = 128
  val LabelSide = 64                   // 64^3 bool mask in 32^3 tiles
  val LabelTile = 32

  def zoomSlice(seed: Long, sid: Int): Array[Double] = Gen.doubles(seed, 11, sid, ZoomSide * ZoomSide)
  def haloTile(seed: Long, t: Int): Array[Boolean] = Gen.bools(seed, 12, t, Tile * Tile * Tile, 0.8)
  def batchTile(seed: Long, v: Int, t: Int): Array[Boolean] =
    Gen.bools(seed, 13, v * 4096L + t, Tile * Tile * Tile, 0.8)
  // density well under the 3-D site-percolation threshold (0.31): many
  // small components, some crossing tile faces, and a merge fixpoint whose
  // length does not swing with the seed the way it does near the threshold
  def labelTile(seed: Long, t: Int): Array[Boolean] =
    Gen.bools(seed, 14, t, LabelTile * LabelTile * LabelTile, 0.2)

  def grid(dims: Array[Int], ts: Int): Array[Int] = dims.map(_ / ts)
  def tileCoords(t: Int, g: Array[Int]): (Int, Int, Int) = (t / (g(1) * g(2)), (t / g(2)) % g(1), t % g(2))
}

/** Whole volumes through the operators that exchange data between
  * partitions: striped volume zoom, both routes of the 3-D stencil, and
  * distributed 3-D labelling. */
final class VolumeShuffle(spark: SparkSession, seed: Long) extends Workload {
  import VolumeInputs._
  import spark.implicits._
  val name = "volume_shuffle"
  def passes(seconds: Int): Int = math.max(2, math.round(seconds / 2.7).toInt)

  private val zoomDims = Array(ZoomSide, ZoomSide, ZoomSide)
  private val batchDims = Array(BatchSide, BatchSide, BatchSide)
  private val labelDims = Array(LabelSide, LabelSide, LabelSide)
  private val haloGrid = grid(HaloDims, Tile)
  private val batchGrid = grid(batchDims, Tile)
  private val labelGrid = grid(labelDims, LabelTile)

  private var zslices: Dataset[ZSlice] = _
  private var halo, batch, label: Dataset[Tile3] = _
  private var expected = Map.empty[String, Digest]

  private def tiles(n: Int, g: Array[Int], gen: (Int, Int) => Array[Boolean]): Dataset[Tile3] = {
    val perVolume = g.product
    val ds = spark.range(n).map { i =>
      val t = (i % perVolume).toInt
      val (ti, tj, tk) = tileCoords(t, g)
      Tile3(i / perVolume, ti, tj, tk, gen((i / perVolume).toInt, t))
    }.persist()
    ds.count()
    ds
  }

  def prepare(): Unit = {
    val sd = seed
    zslices = spark.range(ZoomSide).map(i => ZSlice(0L, i.toInt, zoomSlice(sd, i.toInt))).persist()
    zslices.count()
    halo = tiles(haloGrid.product, haloGrid, (_, t) => haloTile(sd, t))
    batch = tiles(BatchVolumes * batchGrid.product, batchGrid, (v, t) => batchTile(sd, v, t))
    label = tiles(labelGrid.product, labelGrid, (_, t) => labelTile(sd, t))
  }

  // ---- Spark-free references: the same kernels on whole volumes ----
  private def zoomVolume(): Array[Double] = {
    val v = new Array[Double](ZoomSide * ZoomSide * ZoomSide)
    (0 until ZoomSide).foreach(s => System.arraycopy(zoomSlice(seed, s), 0, v, s * ZoomSide * ZoomSide, ZoomSide * ZoomSide))
    v
  }
  private def volume(dims: Array[Int], ts: Int, gen: Int => Array[Boolean]): Array[Boolean] = {
    val g = grid(dims, ts)
    TiledStencil.untile3((0 until g.product).map { t =>
      val (ti, tj, tk) = tileCoords(t, g)
      Tile3(0L, ti, tj, tk, gen(t))
    }, dims, ts)
  }
  private def haloVolume() = volume(HaloDims, Tile, t => haloTile(seed, t))
  private def batchVolume(v: Int) = volume(batchDims, Tile, t => batchTile(seed, v, t))
  private def labelVolume() = volume(labelDims, LabelTile, t => labelTile(seed, t))
  private lazy val cross3 = StencilKernel.crossFootprint(3)
  private def erode(v: Array[Boolean], dims: Array[Int]) = StencilKernel.erode(v, dims, cross3._1, cross3._2)
  private def zoom3d(v: Array[Double]) = ZoomKernel.zoom(v, zoomDims, Array(2.0, 2.0, 2.0), 1, 0.0)._1
  private def label3d(v: Array[Boolean]) =
    LabelKernel.label(v.map(b => if (b) 1.0 else 0.0), labelDims, connectivity = 1).labels

  private def tileHashes(add: Long => Unit, out: Array[Boolean], dims: Array[Int], id: Long): Unit =
    TiledStencil.tile3(out, dims, Tile, id).foreach { t =>
      add(H.int(t.tk, H.int(t.tj, H.int(t.ti, H.long(t.id, H.bools(t.data, ResultHash.Seed))))))
    }

  def reference(): Unit = {
    val zb, hb, lb = new Digest.Builder
    val batchHashes = Array.fill(BatchVolumes)(scala.collection.mutable.ArrayBuffer[Long]())
    val parts: Seq[() => Unit] = Seq(
      () => {
        // strips follow VolumeZoom.strips' default layout: whole rows, at most 1 MiB per strip
        val out = zoom3d(zoomVolume())
        val n = 2 * ZoomSide
        val stripRows = math.max(1, math.min(n, (1 << 20) / 8 / n))
        for (s <- 0 until n; sp <- 0 until (n + stripRows - 1) / stripRows) {
          val lo = s * n * n + sp * stripRows * n
          val hi = s * n * n + math.min((sp + 1) * stripRows, n) * n
          zb.add(H.int(sp, H.int(s, H.long(0L, H.doubles(out, lo, hi, ResultHash.Seed)))))
        }
      },
      () => tileHashes(hb.add, erode(haloVolume(), HaloDims), HaloDims, 0L),
      () => {
        val labels = label3d(labelVolume())
        labels.indices.foreach(g => if (labels(g) != 0) lb.add(H.long(labels(g), H.long(g.toLong, ResultHash.Seed))))
      }) ++
      (0 until BatchVolumes).map(v => () => tileHashes(batchHashes(v) += _, erode(batchVolume(v), batchDims), batchDims, v.toLong))
    Par.foreach(parts.length, Par.threads)(i => parts(i)())
    val bb = new Digest.Builder
    batchHashes.foreach(_.foreach(bb.add))
    expected = Map("volume_zoom" -> zb.result, "erosion3d_halo" -> hb.result,
      "erosion3d_assembled" -> bb.result, "label3d" -> lb.result)
  }

  private def check(op: String, got: Digest): Unit =
    if (got != expected(op)) throw WrongOutput(s"$op digest $got, expected ${expected(op)}")

  private implicit def session: SparkSession = spark

  private def calls: Seq[Call] = Seq(
    Call("volume_zoom", "operators", () => check("volume_zoom",
      ResultHash.of(VolumeZoom.strips(zslices, zoomDims, Array(2.0, 2.0, 2.0), order = 1).toDF()))),
    Call("erosion3d_halo", "operators", () => check("erosion3d_halo",
      ResultHash.of(TiledStencil.erode3Auto(halo, Tile, haloGrid).toDF()))),
    Call("erosion3d_assembled", "operators", () => check("erosion3d_assembled",
      ResultHash.of(TiledStencil.erode3Auto(batch, Tile, batchGrid).toDF()))),
    Call("label3d", "operators", () => check("label3d",
      ResultHash.of(DistributedLabel.apply3(label, LabelTile, labelGrid, 1)))))

  def pass(index: Int): Seq[Call] = calls

  def sizes: Seq[(String, JValue)] = Seq(
    "volume_zoom" -> Json.str(s"${ZoomSide}^3 f64 (16 MiB) x2 order 1 -> ${2 * ZoomSide}^3 (128 MiB) in strips"),
    "erosion3d_halo" -> Json.str(s"${HaloDims.mkString("x")} bool (40 MiB) in ${Tile}^3 tiles, halo route"),
    "erosion3d_assembled" -> Json.str(s"$BatchVolumes x ${BatchSide}^3 bool (8 MiB) in ${Tile}^3 tiles, assembled route"),
    "label3d" -> Json.str(s"${LabelSide}^3 bool, density 0.2, in ${LabelTile}^3 tiles, connectivity 1"))

  override def layers(callSeconds: Map[String, Double]): LayerRecord = {
    val zv = zoomVolume()
    val hv = haloVolume()
    val lv = labelVolume()
    val ms = Seq(
      ("kernels.zoom3d.st_s", Par.seconds(zoom3d(zv)), "s"),
      ("kernels.erosion3d_halo.st_s", Par.seconds(erode(hv, HaloDims)), "s"),
      ("kernels.erosion3d.st_s",
        KernelTiming.run(BatchVolumes, 1)(batchVolume)((_, v) => erode(v, batchDims)), "s"),
      ("kernels.erosion3d.mt_s",
        KernelTiming.run(BatchVolumes, Par.threads)(batchVolume)((_, v) => erode(v, batchDims)), "s"),
      ("kernels.label3d.st_s", Par.seconds(label3d(lv)), "s"))
    LayerRecord(ms, Seq(
      "kernels.zoom3d.mt_s" -> "one volume, and the kernel has no batch axis to spread over threads",
      "kernels.label3d.mt_s" -> "one volume, and the kernel has no batch axis to spread over threads"))
  }
}
