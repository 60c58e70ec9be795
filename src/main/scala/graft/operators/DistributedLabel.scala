package graft.operators

import scala.collection.mutable.{ArrayBuffer, LongMap}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kernels.LabelKernel
import graft.operators.TiledStencil.{Tile, Tile3}

/** Distributed connected-components labeling over tiled boolean masks — the
  * 100 TB path for the reference's `label`
  * (/root/reference/imops/measure.py:33-137), which is single-node cc3d.
  *
  * Two-level scheme, in the same code for both ranks (a 2-D image is a
  * volume one plane deep):
  *  1. tile pass 1 labels each tile with the single-node kernel; the
  *     representative (rep) of a local component is the minimum *global*
  *     flat index it contains — a globally unique, order-meaningful id. It
  *     emits one component row per local component and border rows for the
  *     labelled cells on faces shared with another tile: a *probe* names a
  *     neighbour cell in another tile (forward offsets only, so each
  *     cross-tile adjacency is probed once) and a *target* is a cell some
  *     probe can name. Both are keyed by global flat index, so a probe that
  *     meets a target is a merge edge. Only these O(surface) rows are
  *     cached, never one row per pixel;
  *  2. the rep graph is resolved on one of two routes, picked by one
  *     narrow count of those rows. While it has at most
  *     [[GraphCC.LocalVertexCutoff]] components and at most
  *     [[GraphCC.LocalEdgeCutoff]] border rows (each probe yields at most one
  *     edge) — the only bound on driver memory — the driver collects them,
  *     matches probes to targets in a hash map and runs a union-find. Over
  *     either cutoff, probes join targets and the GraphCC min-label fixpoint
  *     runs distributed;
  *  3. final labels are the rank of each component's minimum pixel index,
  *     which equals the reference's row-major first-appearance numbering —
  *     so results match the single-node kernel exactly;
  *  4. tile pass 2 runs the kernel on each tile again and writes
  *     (global index, label) per labelled cell: the driver route maps each
  *     rep through a broadcast rep→label map, the distributed route joins
  *     the pass's (rep, global index) rows with the ranked roots.
  *
  * Connectivity 1..ndim in both ranks. The driver route is three single-stage
  * jobs (count, collect, relabel) with no shuffle: the kernel runs twice per
  * tile, which costs far less than caching and joining one row per pixel.
  * Both passes read one private copy of the tiles, persisted at one byte per
  * cell (never the caller's Dataset or its `rdd`: unpersisting either would
  * drop the caller's own cache). The result is an eager `localCheckpoint`:
  * it is materialized before the call returns, every intermediate is
  * released, and Spark frees its blocks once the frame is unreachable —
  * there is nothing for the caller to unpersist.
  */
object DistributedLabel {

  // pass-1 row: (kind, key, rep); kind 0 = component (key = rep),
  // 1 = target (key = the cell's global index), 2 = probe (key = the
  // neighbour's global index)
  private type Emit = (Int, Long, Long)

  /** A labelling job in rank-3 terms: `tile` and `grid` are the tile shape
    * and the tile grid, with a leading 1 on both for a 2-D image. */
  private final case class Geom(kernelShape: Array[Int], grid: Array[Int], conn: Int) {
    require(conn >= 1 && conn <= kernelShape.length,
      s"connectivity $conn out of 1..${kernelShape.length}")
    val tile: Array[Int] = if (kernelShape.length == 2) 1 +: kernelShape else kernelShape
    val dims: Array[Int] = Array.tabulate(3)(a => grid(a) * tile(a))
    // neighbour offsets with at most `conn` non-zero axes whose first
    // non-zero component is +1; a 2-D image's offsets that move along the
    // one-plane axis leave the volume and never match
    val forward: Array[Array[Int]] = (for {
      di <- 0 to 1; dj <- -1 to 1; dk <- -1 to 1
      o = Array(di, dj, dk) if o.count(_ != 0) <= conn && o.find(_ != 0).contains(1)
    } yield o).toArray

    /** Fills `c` with the global coordinates of cell `f` of tile `t`;
      * true when the cell lies on a face the tile shares with another. */
    def coords(t: Tile3, f: Int, c: Array[Int]): Boolean = {
      c(0) = f / (tile(1) * tile(2)); c(1) = (f / tile(2)) % tile(1); c(2) = f % tile(2)
      onFace(0, t.ti, c) | onFace(1, t.tj, c) | onFace(2, t.tk, c)
    }

    // turns c(a) from local to global; true when it lies on a shared face
    private def onFace(a: Int, tc: Int, c: Array[Int]): Boolean = {
      val loc = c(a)
      c(a) += tc * tile(a)
      (loc == 0 && tc > 0) || (loc == tile(a) - 1 && tc < grid(a) - 1)
    }

    def flat(c: Array[Int]): Long = (c(0).toLong * dims(1) + c(1)) * dims(2) + c(2)

    /** Global flat index of `c + sign * o` when that cell is inside the
      * volume and in another tile than `c`, else -1. */
    def across(c: Array[Int], o: Array[Int], sign: Int): Long = {
      var (g, crosses, a) = (0L, false, 0)
      while (a < 3) {
        val n = c(a) + sign * o(a)
        if (n < 0 || n >= dims(a)) return -1L
        crosses ||= n / tile(a) != c(a) / tile(a)
        g = g * dims(a) + n
        a += 1
      }
      if (crosses) g else -1L
    }
  }

  /** Runs the kernel on one tile: its local labels and, per local label,
    * the global flat index of its first cell. The kernel numbers labels in
    * first-appearance order and the global index grows with the local one
    * inside a tile, so that first cell is the label's minimum — its rep. */
  private def labelTile(t: Tile3, g: Geom): (Array[Long], Array[Long]) = {
    val res = LabelKernel.label(t.data.map(b => if (b) 1.0 else 0.0), g.kernelShape,
      connectivity = g.conn)
    val reps = new Array[Long](res.num + 1)
    val c = new Array[Int](3)
    var (seen, f) = (0, 0)
    while (seen < res.num) {
      if (res.labels(f) > seen) { seen += 1; g.coords(t, f, c); reps(seen) = g.flat(c) }
      f += 1
    }
    (res.labels, reps)
  }

  /** Tile pass 1: component rows, then the probe and target rows of the
    * labelled cells on shared faces. */
  private def borderRows(t: Tile3, g: Geom): Iterator[Emit] = {
    val (labels, reps) = labelTile(t, g)
    val out = ArrayBuffer.tabulate[Emit](reps.length - 1)(l => (0, reps(l + 1), reps(l + 1)))
    val c = new Array[Int](3)
    for (f <- labels.indices if labels(f) != 0 && g.coords(t, f, c)) {
      val rep = reps(labels(f).toInt)
      var isTarget = false
      for (o <- g.forward) {
        val n = g.across(c, o, 1)
        if (n >= 0) out += ((2, n, rep))
        isTarget ||= g.across(c, o, -1) >= 0
      }
      if (isTarget) out += ((1, g.flat(c), rep))
    }
    out.iterator
  }

  /** Tile pass 2: the kernel again; each labelled cell as (global index,
    * `labelOf(rep)`). */
  private def pixelRows(t: Tile3, g: Geom, labelOf: Long => Long): Iterator[(Long, Long)] = {
    val (labels, reps) = labelTile(t, g)
    val lab = Array.tabulate(reps.length)(l => if (l == 0) 0L else labelOf(reps(l)))
    val c = new Array[Int](3)
    labels.indices.iterator.filter(labels(_) != 0).map { f =>
      g.coords(t, f, c)
      (g.flat(c), lab(labels(f).toInt))
    }
  }

  /** The whole scheme over `tiles`, a private RDD this call persists and
    * releases: pass 1 into cached border rows, one count job to pick the
    * route, then pass 2 into the checkpointed result. */
  private def run(tiles: RDD[Tile3], g: Geom, localCutoff: Long)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    tiles.persist(StorageLevel.MEMORY_AND_DISK)
    val border = tiles.flatMap(borderRows(_, g)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // per-partition counts merged here: no aggregate, so no exchange
      val Array(nComp, nTarget, nProbe) = border.mapPartitions { it =>
        val n = new Array[Long](3); it.foreach(r => n(r._1) += 1); Iterator(n)
      }.collect().foldLeft(new Array[Long](3))((a, b) => Array.tabulate(3)(i => a(i) + b(i)))
      if (nComp <= localCutoff && nTarget + nProbe <= GraphCC.LocalEdgeCutoff) {
        // driver route: probes meet targets in one hash map
        val rows = border.collect()
        val uf = new MinUnionFind
        val targetRep = LongMap.empty[Long]
        for ((kind, key, rep) <- rows) if (kind == 0) uf.add(rep) else if (kind == 1) targetRep(key) = rep
        for ((kind, key, rep) <- rows if kind == 2) targetRep.get(key).foreach(uf.union(rep, _))
        val members = uf.roots.toArray
        val roots = members.collect { case (rep, root) if rep == root => root }.sorted
        val label = LongMap.from(members.iterator.map { case (rep, root) =>
          rep -> (java.util.Arrays.binarySearch(roots, root) + 1L)
        })
        val bc = spark.sparkContext.broadcast(label)
        val out = tiles.flatMap(pixelRows(_, g, bc.value(_))).toDF("g", "label").localCheckpoint()
        bc.destroy()
        out
      } else {
        // distributed route: the probe→target join, the GraphCC fixpoint,
        // then the roots ranked by a range-partitioned sortBy + zipWithIndex
        // rather than a global single-partition Window
        def keyed(kind: Int) = border.filter(_._1 == kind).map(r => (r._2, r._3))
        val labels = GraphCC.minLabels(border.filter(_._1 == 0).map(_._2),
          keyed(2).join(keyed(1)).values, localCutoff)
        val roots = labels.values.distinct(spark.sparkContext.defaultParallelism)
          .sortBy(identity).zipWithIndex()
          .map { case (lbl, idx) => (lbl, idx + 1) }
        val repLabel = labels.toDF("rep", "lbl").join(roots.toDF("lbl", "label"), Seq("lbl"))
        val out = tiles.flatMap(pixelRows(_, g, identity)).toDF("g", "rep")
          .join(repLabel, Seq("rep")).select("g", "label").localCheckpoint()
        labels.unpersist(blocking = false)
        out
      }
    } finally {
      border.unpersist(blocking = false)
      tiles.unpersist(blocking = false)
    }
  }

  /** Returns (global flat pixel index, label) for every true pixel.
    * `connectivity` 1 (cross) or 2 (8-adjacency, the skimage conn-2); at 2
    * a tile-corner cell also probes its diagonal neighbours. */
  def apply(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
            connectivity: Int = 1)
           (implicit spark: SparkSession): DataFrame =
    label2(tiles, ts, gridRows, gridCols, connectivity, GraphCC.LocalVertexCutoff)

  /** [[apply]] with the component-count cutoff of the driver route exposed
    * (it is also GraphCC's vertex cutoff); tests force the distributed
    * route with `localCutoff = 0`. */
  private[graft] def label2(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
                            connectivity: Int, localCutoff: Long)
                           (implicit spark: SparkSession): DataFrame =
    run(tiles.rdd.map(t => Tile3(t.id, 0, t.ti, t.tj, t.data)),
      Geom(Array(ts, ts), Array(1, gridRows, gridCols), connectivity), localCutoff)

  /** 3-D volumes: the same scheme over plane faces.
    *
    * `connectivity` follows the reference's skimage convention mapped to
    * cc3d 6/18/26 (/root/reference/imops/measure.py:22-29): 1 = faces only,
    * 2 = +edges, 3 = +corners. At 2-3 a border cell can also connect through
    * tile EDGES and CORNERS, so it probes its diagonal out-of-tile
    * neighbours too; the border rows stay O(surface × neighborhood), never
    * O(volume). */
  def apply3(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int = 1)
            (implicit spark: SparkSession): DataFrame =
    label3(tiles, ts, grid, connectivity, GraphCC.LocalVertexCutoff)

  /** [[apply3]] with the route cutoff exposed, as [[label2]]. */
  private[graft] def label3(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int,
                            localCutoff: Long)
                           (implicit spark: SparkSession): DataFrame =
    // `map(identity)`: a private RDD to persist, not the caller's `tiles.rdd`
    run(tiles.rdd.map(identity), Geom(Array(ts, ts, ts), grid, connectivity), localCutoff)
}
