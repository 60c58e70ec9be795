package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.kernels.LabelKernel
import graft.operators.TiledStencil.Tile

/** Distributed connected-components labeling over tiled boolean masks — the
  * 100 TB path for the reference's `label`
  * (/root/reference/imops/measure.py:33-137), which is single-node cc3d.
  *
  * Classic two-level scheme:
  *  1. label each tile locally (the same union-find kernel), representative
  *     of each local component = the minimum *global* flat pixel index it
  *     contains — a globally unique, order-meaningful id;
  *  2. adjacency across tile borders becomes an edge list between
  *     representatives (shuffle volume O(perimeter), not O(area));
  *  3. the representative graph is resolved on one of two routes, picked
  *     by one count over the cached tile-pass output. While it has at most
  *     [[GraphCC.LocalVertexCutoff]] components and its border rows bound
  *     the edge count by [[GraphCC.LocalEdgeCutoff]], the driver collects
  *     the reps and edges in one job and runs a union-find. Over either
  *     cutoff — the only bound on driver memory — the GraphCC min-label
  *     fixpoint runs distributed;
  *  4. final labels are the rank of each component's minimum pixel index,
  *     which equals the reference's row-major first-appearance numbering —
  *     so results match the single-node kernel exactly. The driver route
  *     ranks its roots locally and relabels the pixels with one broadcast
  *     join; the distributed route ranks them with a range-partitioned
  *     sortBy + zipWithIndex and two shuffle joins.
  *
  * Boolean masks; connectivity 1..ndim in both the 2-D and 3-D forms
  * (conn-1 merges via face keys, conn ≥ 2 via the shell-probe equi-join).
  *
  * r12 (guide §1.2 step 1 / §2.4): each tile is labeled ONCE — pixel rows
  * and border/shell rows emit from a single kernel pass into one cached
  * tagged frame (the r11 shape ran the union-find kernel and the tile
  * source scan twice per query, once for pixels and once for borders).
  * The result is an eager `localCheckpoint`: it is materialized before the
  * call returns, reads none of the intermediates (each is released before
  * returning), and Spark frees its blocks once the frame is unreachable —
  * there is nothing for the caller to unpersist.
  */
object DistributedLabel {

  // unified single-pass emission row: kind 0 = pixel (a = global index),
  // kind 1 = border face cell (a = bkey, b = pos, c = side) or shell cell
  // (a/b/c = global coordinates), kind 2 = one per local component; every
  // row carries the local component rep
  private type Emit = (Int, Long, Long, Long, Long)

  private def componentRows(reps: Iterable[Long]): Iterator[Emit] =
    reps.iterator.map(r => (2, r, 0L, 0L, r))

  /** Runs the two-level scheme over a single-pass tagged emission frame:
    * caches it, counts its component and border rows, resolves the merge
    * graph that `edgesOf` builds from the border rows on the route those
    * counts pick, checkpoints the relabeled pixel rows and releases every
    * intermediate.
    * `edgesPerRow` bounds the edges one border row can yield, so
    * `border rows × edgesPerRow` bounds the edge count without running
    * the join. */
  private def run(emitted: Dataset[Emit], edgesOf: DataFrame => DataFrame,
                  edgesPerRow: Int, localCutoff: Long)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tagged = emitted.toDF("kind", "a", "b", "c", "rep")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val Row(nComp: Long, nBorder: Long) = tagged.agg(
      count(when(col("kind") === 2, true)), count(when(col("kind") === 1, true))).head()
    val reps = tagged.where(col("kind") === 2).select(col("rep"))
    val edges = edgesOf(tagged.where(col("kind") === 1))
    val (repLabel, labels) =
      if (nComp <= localCutoff && nBorder * edgesPerRow <= GraphCC.LocalEdgeCutoff) {
        // driver route: reps (as self-loops) and edges arrive in one job
        val uf = new MinUnionFind
        reps.select(col("rep").as("src"), col("rep").as("dst")).union(edges)
          .as[(Long, Long)].collect().foreach { case (a, b) => uf.union(a, b) }
        val members = uf.roots.toArray
        val roots = members.collect { case (rep, root) if rep == root => root }.sorted
        val relabel = members.toSeq.map { case (rep, root) =>
          (rep, java.util.Arrays.binarySearch(roots, root) + 1L)
        }
        (broadcast(relabel.toDF("rep", "label")), None)
      } else {
        // distributed route: the GraphCC fixpoint, then the roots ranked by
        // a range-partitioned sortBy + zipWithIndex rather than a global
        // single-partition Window
        val labels = GraphCC.minLabels(reps.as[Long].rdd, edges.as[(Long, Long)].rdd, localCutoff)
        val roots = labels.values.distinct(spark.sparkContext.defaultParallelism)
          .sortBy(identity).zipWithIndex()
          .map { case (lbl, idx) => (lbl, idx + 1) }
        (labels.toDF("rep", "lbl").join(roots.toDF("lbl", "label"), Seq("lbl")), Some(labels))
      }
    val res = tagged.where(col("kind") === 0)
      .join(repLabel, Seq("rep"))
      .select(col("a").as("g"), col("label"))
      .localCheckpoint()
    labels.foreach(_.unpersist(blocking = false))
    tagged.unpersist(blocking = false)
    res
  }

  /** Returns (global flat pixel index, label) for every true pixel.
    * `connectivity` 1 (cross) or 2 (8-adjacency, the skimage conn-2):
    * conn-1 merges across tiles by face-key matching; conn-2 switches to
    * the same shell-probe equi-join as the 3-D form (corner cells of four
    * tiles can meet diagonally), shuffle O(perimeter × neighborhood). */
  def apply(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
            connectivity: Int = 1)
           (implicit spark: SparkSession): DataFrame =
    label2(tiles, ts, gridRows, gridCols, connectivity, GraphCC.LocalVertexCutoff)

  /** [[apply]] with the component-count cutoff of the driver route exposed
    * (it is also GraphCC's vertex cutoff); tests force the distributed
    * route with `localCutoff = 0`. */
  private[graft] def label2(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
                            connectivity: Int, localCutoff: Long)
                           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cols = gridCols * ts

    // ONE kernel pass per tile: pixel rows + (face-key or shell) rows
    val emitted: Dataset[Emit] = tiles.flatMap { t =>
      val data = t.data.map(b => if (b) 1.0 else 0.0)
      val res = LabelKernel.label(data, Array(ts, ts), connectivity = connectivity)
      val rep = scala.collection.mutable.Map.empty[Long, Long]
      var i = 0
      while (i < ts * ts) {
        val lb = res.labels(i)
        if (lb != 0) {
          val g = (t.ti.toLong * ts + i / ts) * cols + (t.tj.toLong * ts + i % ts)
          rep(lb) = rep.get(lb).map(math.min(_, g)).getOrElse(g)
        }
        i += 1
      }
      val px = (0 until ts * ts).iterator.flatMap { i =>
        val lb = res.labels(i)
        if (lb == 0) None
        else {
          val g = (t.ti.toLong * ts + i / ts) * cols + (t.tj.toLong * ts + i % ts)
          Some((0, g, 0L, 0L, rep(lb)): Emit)
        }
      }
      def repAt(i: Int, j: Int): Option[Long] = {
        val lb = res.labels(i * ts + j)
        if (lb == 0) None else Some(rep(lb))
      }
      val border: Iterator[Emit] =
        if (connectivity == 1) {
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          // vertical boundary to the right: boundary id = (ti, tj) pair hashed
          for (i <- 0 until ts) {
            repAt(i, ts - 1).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + t.tj) << 1) | 0, i, 0L, r)) }
            if (t.tj > 0) repAt(i, 0).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + (t.tj - 1)) << 1) | 0, i, 1L, r)) }
          }
          // horizontal boundary below
          for (j <- 0 until ts) {
            repAt(ts - 1, j).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + t.tj) << 1) | 1, j, 0L, r)) }
            if (t.ti > 0) repAt(0, j).foreach { r =>
              out += ((1, (((t.ti - 1).toLong * gridCols + t.tj) << 1) | 1, j, 1L, r)) }
          }
          out.iterator
        } else {
          // conn-2 (8-adjacency): shell cells by global coordinates — a
          // tile-corner cell can meet a diagonal tile's corner, which the
          // face-key scheme cannot express
          (for {
            i <- (0 until ts).iterator; j <- (0 until ts).iterator
            if i == 0 || i == ts - 1 || j == 0 || j == ts - 1
            lb = res.labels(i * ts + j) if lb != 0
          } yield ((1, t.ti.toLong * ts + i, t.tj.toLong * ts + j, 0L, rep(lb)): Emit))
        }
      px ++ border ++ componentRows(rep.values)
    }

    val offsets = Seq(-1, 0, 1).flatMap(di => Seq(-1, 0, 1).map(dj => (di, dj)))
      .filter { case (di, dj) => di != 0 || dj != 0 }
    def edgesOf(tagged: DataFrame): DataFrame =
      if (connectivity == 1) {
        val borders = tagged.select(col("a").as("bkey"), col("b").as("pos"),
          col("c").as("side"), col("rep"))
        borders.where(col("side") === 0).as("a")
          .join(borders.where(col("side") === 1).as("b"), Seq("bkey", "pos"))
          .select(col("a.rep").as("src"), col("b.rep").as("dst"))
          .where(col("src") =!= col("dst"))
      } else {
        val (nR, nC) = (gridRows.toLong * ts, gridCols.toLong * ts)
        val shell = tagged.select(col("a").as("gi"), col("b").as("gj"), col("rep"))
        val probes = shell.crossJoin(broadcast(offsets.toDF("di", "dj")))
          .select(col("gi"), col("gj"), col("rep"),
            (col("gi") + col("di")).as("ni"), (col("gj") + col("dj")).as("nj"))
          .where(col("ni") >= 0 && col("ni") < nR && col("nj") >= 0 && col("nj") < nC)
          .where((col("ni") / ts).cast("long") =!= (col("gi") / ts).cast("long") ||
            (col("nj") / ts).cast("long") =!= (col("gj") / ts).cast("long"))
          .select(col("ni"), col("nj"), col("rep"))
        probes.join(
            shell.select(col("gi").as("ni"), col("gj").as("nj"), col("rep").as("rep2")),
            Seq("ni", "nj"))
          .select(col("rep").as("src"), col("rep2").as("dst"))
          .where(col("src") =!= col("dst"))
      }

    run(emitted, edgesOf, if (connectivity == 1) 1 else offsets.size, localCutoff)
  }

  import graft.operators.TiledStencil.Tile3

  /** 3-D volumes: same two-level scheme with face (plane) boundaries.
    *
    * `connectivity` follows the reference's skimage convention mapped to
    * cc3d 6/18/26 (/root/reference/imops/measure.py:22-29): 1 = faces only,
    * 2 = +edges, 3 = +corners. At connectivity 1 cross-tile merging is the
    * face-key matching below (zero coordinate math on the shuffle key); at
    * 2-3 a border cell can also connect through tile EDGES and CORNERS, so
    * the exchange switches to a shell-probe equi-join: every true cell on a
    * tile's 1-deep shell emits its out-of-tile neighbor coordinates, which
    * join against the shells of the owning tiles. Shuffle volume stays
    * O(surface × neighborhood), never O(volume). */
  def apply3(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int = 1)
            (implicit spark: SparkSession): DataFrame =
    label3(tiles, ts, grid, connectivity, GraphCC.LocalVertexCutoff)

  /** [[apply3]] with the route cutoff exposed, as [[label2]]. */
  private[graft] def label3(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int,
                            localCutoff: Long)
                           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (d1, d2) = (grid(1) * ts, grid(2) * ts)

    val emitted: Dataset[Emit] = tiles.flatMap { t =>
      val res = graft.kernels.LabelKernel.label(
        t.data.map(b => if (b) 1.0 else 0.0), Array(ts, ts, ts), connectivity = connectivity)
      val rep = scala.collection.mutable.Map.empty[Long, Long]
      var f = 0
      while (f < ts * ts * ts) {
        val lb = res.labels(f)
        if (lb != 0) {
          val (i, j, k) = (f / (ts * ts), (f / ts) % ts, f % ts)
          val g = ((t.ti.toLong * ts + i) * d1 + (t.tj.toLong * ts + j)) * d2 + (t.tk.toLong * ts + k)
          rep(lb) = rep.get(lb).map(math.min(_, g)).getOrElse(g)
        }
        f += 1
      }
      val px = (0 until ts * ts * ts).iterator.flatMap { f =>
        val lb = res.labels(f)
        if (lb == 0) None
        else {
          val (i, j, k) = (f / (ts * ts), (f / ts) % ts, f % ts)
          val g = ((t.ti.toLong * ts + i) * d1 + (t.tj.toLong * ts + j)) * d2 + (t.tk.toLong * ts + k)
          Some((0, g, 0L, 0L, rep(lb)): Emit)
        }
      }
      def repAt(i: Int, j: Int, k: Int): Option[Long] = {
        val lb = res.labels((i * ts + j) * ts + k)
        if (lb == 0) None else Some(rep(lb))
      }
      val border: Iterator[Emit] =
        if (connectivity == 1) {
          def faceKey(ti: Int, tj: Int, tk: Int, axis: Int): Long =
            (((ti.toLong * grid(1) + tj) * grid(2) + tk) * 3) + axis
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          for (a <- 0 until ts; b <- 0 until ts) {
            val pos = a * ts + b
            // +i face of this tile vs -i face of tile below (axis 0)
            repAt(ts - 1, a, b).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 0), pos, 0L, r)))
            if (t.ti > 0) repAt(0, a, b).foreach(r => out += ((1, faceKey(t.ti - 1, t.tj, t.tk, 0), pos, 1L, r)))
            // +j face (axis 1)
            repAt(a, ts - 1, b).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 1), pos, 0L, r)))
            if (t.tj > 0) repAt(a, 0, b).foreach(r => out += ((1, faceKey(t.ti, t.tj - 1, t.tk, 1), pos, 1L, r)))
            // +k face (axis 2)
            repAt(a, b, ts - 1).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 2), pos, 0L, r)))
            if (t.tk > 0) repAt(a, b, 0).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk - 1, 2), pos, 1L, r)))
          }
          out.iterator
        } else {
          // shell cells by global coordinates for the probe join below;
          // cells adjacent WITHIN a tile share a local label already (the
          // kernel ran at the same connectivity), so same-tile probes are
          // filtered in edgesOf
          (for {
            i <- (0 until ts).iterator; j <- (0 until ts).iterator; k <- (0 until ts).iterator
            if i == 0 || i == ts - 1 || j == 0 || j == ts - 1 || k == 0 || k == ts - 1
            lb = res.labels((i * ts + j) * ts + k) if lb != 0
          } yield ((1, t.ti.toLong * ts + i, t.tj.toLong * ts + j, t.tk.toLong * ts + k, rep(lb)): Emit))
        }
      px ++ border ++ componentRows(rep.values)
    }

    val offsets = for {
      di <- -1 to 1; dj <- -1 to 1; dk <- -1 to 1
      m = math.abs(di) + math.abs(dj) + math.abs(dk) if m >= 1 && m <= connectivity
    } yield (di, dj, dk)
    def edgesOf(tagged: DataFrame): DataFrame =
      if (connectivity == 1) {
        val borders = tagged.select(col("a").as("bkey"), col("b").as("pos"),
          col("c").as("side"), col("rep"))
        borders.where(col("side") === 0).as("a")
          .join(borders.where(col("side") === 1).as("b"), Seq("bkey", "pos"))
          .select(col("a.rep").as("src"), col("b.rep").as("dst"))
          .where(col("src") =!= col("dst"))
      } else {
        // shell-probe exchange for edge/corner adjacency: a probe is a
        // shell cell's out-of-tile neighbor coordinate; the equi-join
        // probe→shell materializes exactly the cross-tile adjacency.
        val (nD0, nD1, nD2) = (grid(0).toLong * ts, grid(1).toLong * ts, grid(2).toLong * ts)
        val shell = tagged.select(col("a").as("gi"), col("b").as("gj"),
          col("c").as("gk"), col("rep"))
        val probes = shell.crossJoin(broadcast(offsets.toDF("di", "dj", "dk")))
          .select(col("gi"), col("gj"), col("gk"), col("rep"),
            (col("gi") + col("di")).as("ni"), (col("gj") + col("dj")).as("nj"),
            (col("gk") + col("dk")).as("nk"))
          .where(col("ni") >= 0 && col("ni") < nD0 && col("nj") >= 0 && col("nj") < nD1 &&
            col("nk") >= 0 && col("nk") < nD2)
          .where((col("ni") / ts).cast("long") =!= (col("gi") / ts).cast("long") ||
            (col("nj") / ts).cast("long") =!= (col("gj") / ts).cast("long") ||
            (col("nk") / ts).cast("long") =!= (col("gk") / ts).cast("long"))
          .select(col("ni"), col("nj"), col("nk"), col("rep"))
        probes.join(
            shell.select(col("gi").as("ni"), col("gj").as("nj"), col("gk").as("nk"),
              col("rep").as("rep2")),
            Seq("ni", "nj", "nk"))
          .select(col("rep").as("src"), col("rep2").as("dst"))
          .where(col("src") =!= col("dst"))
      }

    run(emitted, edgesOf, if (connectivity == 1) 1 else offsets.size, localCutoff)
  }
}
